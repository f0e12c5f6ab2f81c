"""Seeded inputs: the generator's bench-profile fixture, split by id hash.

One fixture per ``(n_base, seed)``: ``write_fixture_local`` with 10%
skew bombs (the same rows ``write_fixture_spark`` writes — every row is a
pure function of seed and ordinal — without starting Spark tasks), then
split by a seeded hash of ``image_id`` into

* ``base``        the corpus every build indexes (~80%),
* ``add_pool``    rows the serve workload appends, its first batch
                  written as its own parquet source like the CLI's ``add``,
* ``probe_pool``  held-out rows renamed ``q_<id>``, the request probes.

The truth pairs and negatives of the whole fixture ride along; gates
restrict them to the rows a build holds.  The split is cached under the
work directory; generation is not timed.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib
from dataclasses import dataclass
from functools import cached_property

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SKEW_FRACTION = 0.10
ADD_BATCH_ROWS = 24
REMOVE_BATCH_ROWS = 12
_KEEP_FIXTURES = 6
_FORMAT = 3  # bump when the cached layout changes


@dataclass(frozen=True)
class Fixture:
    dir: str

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    @property
    def base(self) -> str:
        return self.path("base.parquet")

    @property
    def probes(self) -> str:
        return self.path("probes.parquet")

    @property
    def add_batch(self) -> str:
        return self.path("add.parquet")

    @cached_property
    def meta(self) -> dict:
        with open(self.path("meta.json")) as f:
            return json.load(f)


def _bucket(seed: int, ids: "list[str]") -> "list[int]":
    return [zlib.crc32(f"{seed}:{i}".encode()) % 10 for i in ids]


def _content(tbl: pa.Table) -> "list[tuple[bytes, str]]":
    return list(zip(tbl["bytes"].to_pylist(), tbl["caption"].to_pylist()))


def make(work: str, n_base: int, seed: int) -> Fixture:
    from gsearch_spark.generator import write_fixture_local

    root = os.path.join(work, "fixtures")
    fx = Fixture(os.path.join(root, f"v{_FORMAT}_n{n_base}_s{seed}"))
    if os.path.exists(fx.path("_DONE")):
        return fx
    shutil.rmtree(fx.dir, ignore_errors=True)
    raw = fx.path("raw")
    write_fixture_local(raw, n_base=n_base, seed=seed,
                        skew_fraction=SKEW_FRACTION)
    tbl = pq.read_table(os.path.join(raw, "images.parquet"))
    ids = tbl["image_id"].to_pylist()
    bucket = pa.array(_bucket(seed, ids))
    base = tbl.filter(pc.greater_equal(bucket, 2))
    adds = tbl.filter(pc.equal(bucket, 1))
    probes = tbl.filter(pc.equal(bucket, 0))
    pq.write_table(base, fx.base)

    if adds.num_rows < ADD_BATCH_ROWS:
        raise ValueError(f"n_base={n_base} leaves {adds.num_rows} add-pool "
                         f"rows, fewer than one {ADD_BATCH_ROWS}-row batch")
    batch = adds.slice(0, ADD_BATCH_ROWS)
    os.makedirs(fx.add_batch)
    pq.write_table(batch, os.path.join(fx.add_batch, "part-0.parquet"))

    probe_ids = ["q_" + i for i in probes["image_id"].to_pylist()]
    probes = probes.set_column(0, "image_id", pa.array(probe_ids))
    pq.write_table(probes, fx.probes)

    # which base rows carry each probe's exact content (bytes + caption):
    # an exact-duplicate probe must find one of them
    by_content: "dict[tuple[bytes, str], list[str]]" = {}
    for rid, key in zip(base["image_id"].to_pylist(), _content(base)):
        by_content.setdefault(key, []).append(rid)
    exact = {pid: by_content[key]
             for pid, key in zip(probe_ids, _content(probes))
             if key in by_content}

    base_ids = set(base["image_id"].to_pylist())

    def pairs(name: str) -> "list[list[str]]":
        t = pq.read_table(os.path.join(raw, name))
        return [list(p) for p in zip(t["a"].to_pylist(), t["b"].to_pylist())]

    # the remove batch: a seeded spread of base ids (dup-cluster members
    # and singletons alike)
    rm_order = sorted(base_ids, key=lambda i: zlib.crc32(f"rm{seed}:{i}"
                                                         .encode()))
    meta = {"n_base_param": n_base, "seed": seed,
            "rows": tbl.num_rows, "base_rows": base.num_rows,
            "add_rows": adds.num_rows, "probe_rows": probes.num_rows,
            "base_ids": sorted(base_ids),
            "add_ids": batch["image_id"].to_pylist(),
            "remove_ids": rm_order[:REMOVE_BATCH_ROWS],
            "probe_ids": probe_ids,
            "truth_pairs": pairs("truth_pairs.parquet"),
            "truth_negatives": pairs("truth_negatives.parquet"),
            "exact_sources": exact}
    with open(fx.path("meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(raw)
    open(fx.path("_DONE"), "w").close()
    _prune(root, keep=fx.dir)
    return fx


def _prune(root: str, keep: str) -> None:
    """Bound the cache: keep the newest few fixtures."""
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[_KEEP_FIXTURES:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)

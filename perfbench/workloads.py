"""The benchmark's workloads, each run by one client in a closed loop.

``build``  the bulk path.  Set-up starts the session and warms the JVM
           and Python workers with a build of a small slice.  Then one
           fresh ``NearDupPipeline.run`` over ``base``, one untimed
           request and a few timed ones against the new build.
``serve``  the online path on a live build.  Set-up starts the session
           and builds ``base`` (that cold build is the warm-up).  Then
           ``remove_images`` of one batch, ``incremental_add`` of one
           batch, ``purge_removed``, one untimed request and a few timed
           ones against the purged build; the final
           clusters must pass the truth gate, and in traced runs equal
           a fresh build of the live corpus.

Both repeat their final requests until ``--seconds`` have passed (at
least ``READS`` of them).
With ``--trace 1`` each workload also composes the program's chain from
public functions inside layer spans (see ledger.py) and reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.util import inheritable_thread_target

from perfbench import ledger
from perfbench.fixture import ADD_BATCH_ROWS, Fixture

K = 5                      # answers per probe
MAX_DISTANCE = 0.6
PROBES_PER_REQUEST = 8
READS = 3                  # fewest timed requests after the last write
WARM_ROWS = 64             # build warm-up slice
MIN_RECALL = 0.99
MAX_UNCOVERED = 0.10       # traced wall share outside every layer span


@dataclass
class Run:
    """One benchmark invocation: its settings, op latencies and gates."""
    seconds: float
    trace: bool
    cores: int
    dir: str
    fixture: Fixture
    attempted: int = 0
    failed: int = 0
    lat: "dict[str, list[float]]" = field(
        default_factory=lambda: defaultdict(list))
    errors: "list[str]" = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def op(self, kind: str, fn):
        """One timed operation; a raised error counts as a failed op."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            return fn()
        except Exception as e:  # counted and reported, the run goes on
            self.failed += 1
            self.errors.append(f"{kind}: {e!r}")
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            self.lat[kind].append(time.perf_counter() - t)

    def gate(self, name: str, ok: bool, info) -> None:
        """A correctness check counts as one attempted op, and as a
        failed one if it does not hold."""
        self.attempted += 1
        self.detail.setdefault("gates", {})[name] = info
        if not ok:
            self.failed += 1
            self.errors.append(f"gate {name}: {info}")

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


# ---------------------------------------------------------------- helpers

def config(cores: int):
    """Layout fan-outs sized to the host's cores instead of the
    ``PipelineConfig`` defaults the CLI's build and add run (32 shuffle
    partitions, 64 cluster and key buckets): at this fixture size each
    bucket is one task of pure per-task latency, and the default layout
    makes the runs too long for the run budget (README.md gives the
    measured cost)."""
    from gsearch_spark.config import PipelineConfig
    return PipelineConfig(shuffle_partitions=cores, cluster_buckets=cores,
                          key_buckets=cores)


def start_session(run: Run):
    """The engine's own session builder; traced runs add the event log."""
    from gsearch_spark.session import get_spark
    conf = {"spark.ui.showConsoleProgress": "false"}
    if run.trace:
        conf.update(ledger.event_log_conf(run.path("eventlog")))
    spark = get_spark("perfbench", cores=run.cores,
                      shuffle_partitions=run.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def assign(df) -> "dict[str, str]":
    return {r[0]: r[1] for r in df.select("image_id", "cluster_id")
            .collect()}


def path_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def build(spark, cfg, images, ckpt: str):
    from gsearch_spark.operators.pipeline import NearDupPipeline
    shutil.rmtree(ckpt, ignore_errors=True)
    return NearDupPipeline(spark, cfg, ckpt).run(images, resume=False)


def probe_batches(run: Run, spark):
    """Endless probe batches cycling through the probe pool, cut from one
    materialized copy so no timed request pays for the benchmark's own
    fixture scan.  Batch ``i`` takes every ``n``-th id from the ``i``-th
    on, so each spans the generator's whole id range: skew-bomb copies,
    exact and near duplicates and singletons alike."""
    from pyspark.sql import functions as F
    probes = spark.read.parquet(run.fixture.probes).localCheckpoint()
    ids = sorted(run.fixture.meta["probe_ids"])
    n = -(-len(ids) // PROBES_PER_REQUEST)
    batches = [(ids[i::n], probes.filter(F.col("image_id").isin(ids[i::n])))
               for i in range(n)]
    return itertools.cycle(batches)


def warm_request(spark, ckpt: str, batch) -> None:
    """One untimed request against a new build state, so that no timed
    one runs the request path cold or is the first to read the state's
    files."""
    from gsearch_spark.operators.request import request
    request(spark, ckpt, batch[1], k=K, max_distance=MAX_DISTANCE).collect()


def request_once(run: Run, spark, ckpt: str, batch, live: set) -> None:
    from gsearch_spark.operators.request import request
    ids, df = batch
    rows = run.op("request", lambda: request(
        spark, ckpt, df, k=K, max_distance=MAX_DISTANCE).collect())
    if rows is not None:
        ok, info = check_answers(rows, ids, live,
                                 run.fixture.meta["exact_sources"])
        run.gate(f"request_{len(run.lat['request'])}", ok, info)


def check_answers(rows, probe_ids, live: set, exact: dict):
    """At most K answers per probe, every answer a live id, and every
    probe with live exact-content rows finds one of them (unless K
    distance-0 ties fill its answer list)."""
    by_q: "dict[str, list]" = defaultdict(list)
    for r in rows:
        by_q[r["query_id"]].append(r)
    bad = []
    for q, rs in by_q.items():
        if q not in probe_ids or len(rs) > K:
            bad.append(f"{q}: {len(rs)} answers")
        bad += [f"{q}->{r['target_id']} not live" for r in rs
                if r["target_id"] not in live]
    for q in probe_ids:
        src = {s for s in exact.get(q, ()) if s in live}
        rs = by_q.get(q, [])
        if src and not (src & {r["target_id"] for r in rs}) and not (
                len(rs) == K and all(r["distance"] == 0 for r in rs)):
            bad.append(f"{q}: exact source missed")
    return not bad, {"answers": len(rows), "problems": bad[:5]}


def check_clusters(run: Run, got: dict, ids: set):
    """Clusters of the rows ``ids`` against the generator's truth: pair
    recall >= MIN_RECALL, no negative pair co-clustered, every row
    assigned."""
    from gsearch_spark.oracle import cluster_pair_recall
    meta = run.fixture.meta
    recall = cluster_pair_recall(got, {(a, b) for a, b in
                                       meta["truth_pairs"]
                                       if a in ids and b in ids})
    neg = sum(1 for a, b in meta["truth_negatives"]
              if a in ids and b in ids and got.get(a) == got.get(b))
    ok = recall >= MIN_RECALL and neg == 0 and set(got) == ids
    return ok, {"pair_recall": round(recall, 5), "negatives_coclustered":
                neg, "rows": len(got)}


def median(xs: "list[float]") -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------- build workload

def run_build(run: Run) -> dict:
    t0 = time.perf_counter()
    spark = start_session(run)
    cfg = config(run.cores)
    base = spark.read.parquet(run.fixture.base)
    ids = set(run.fixture.meta["base_ids"])
    build(spark, cfg, base.limit(WARM_ROWS), run.path("warm"))
    if run.trace:
        return trace_build(run, spark, cfg, base, ids)
    reads = probe_batches(run, spark)
    setup_s = time.perf_counter() - t0

    ckpt = run.path("build")
    t_measure = time.perf_counter()
    out = run.op("build", lambda: build(spark, cfg, base, ckpt))
    if out is not None:
        ok, info = check_clusters(run, assign(out), ids)
        run.gate("build", ok, info)
        warm_request(spark, ckpt, next(reads))
        while (len(run.lat["request"]) < READS
               or time.perf_counter() - t_measure < run.seconds):
            request_once(run, spark, ckpt, next(reads), ids)
    storage = path_bytes(ckpt) / path_bytes(run.fixture.base)
    spark.stop()
    write_s = run.lat["build"][0]
    return {"setup_s": (setup_s, "s"),
            "write_s": (write_s, "s"),
            "images_per_s": (len(ids) / write_s, "images/s"),
            "read_p50_s": (median(run.lat["request"]), "s"),
            "storage_ratio": (storage, "ratio")}


def build_chain(spark, cfg, images, d: str, tracer: ledger.Tracer) -> tuple:
    """``NearDupPipeline.run``'s stage chain from the same public
    functions, one layer span per stage, serial in this thread, each
    stage written and re-read the way ``run`` checkpoints it.  Returns
    the clusters DataFrame and the CC side taken."""
    from pyspark.sql import functions as F
    from gsearch_spark.operators.banding import build_bands
    from gsearch_spark.operators.candidates import emit_bucket_pairs
    from gsearch_spark.operators.cc import assign_clusters, union_find
    from gsearch_spark.operators.exact import (exact_groups,
                                               expand_clusters,
                                               representatives)
    from gsearch_spark.operators.keyidx import (write_ck_index,
                                                write_edge_index,
                                                write_id_index)
    from gsearch_spark.operators.pipeline import cluster_pbucket
    from gsearch_spark.operators.signatures import compute_signatures
    from gsearch_spark.operators.suffix import suffix_candidate_pairs
    from gsearch_spark.operators.verify import verified_edges

    shutil.rmtree(d, ignore_errors=True)

    def p(name: str) -> str:
        return os.path.join(d, name)

    def write(df, name: str):
        df.write.mode("overwrite").parquet(p(name))
        return spark.read.parquet(p(name))

    with tracer.span("exact") as s:
        groups = write(exact_groups(images), "exact_groups")
        s["rows"] = groups.count()
    reps = representatives(images, groups)
    with tracer.span("suffix") as s:
        sfx = suffix_candidate_pairs(reps).localCheckpoint()
        s["rows"] = sfx.count()
    with tracer.span("signatures") as s:
        sigs = write(compute_signatures(reps, cfg), "signatures")
        s["rows"] = sigs.count()
    with tracer.span("banding") as s:
        bands = write(build_bands(sigs, cfg), "bands")
        s["rows"] = bands.count()
    with tracer.span("candidates") as s:
        pairs = write(emit_bucket_pairs(bands).unionByName(sfx)
                      .groupBy("a", "b").agg(F.min("src").alias("src")),
                      "candidate_pairs")
        n_pairs = s["rows"] = pairs.count()
    with tracer.span("verify") as s:
        edges = write(verified_edges(pairs, reps, cfg,
                                     n_pairs_hint=n_pairs),
                      "verified_edges")
        n_edges = s["rows"] = edges.count()
    with tracer.span("cc") as s:
        # the same size gate run() applies
        driver = (not cfg.cc_reliable_checkpoints
                  and n_edges <= cfg.add_cc_local_max_edges)
        if driver:
            mapping = union_find([(r["a"], r["b"]) for r in
                                  edges.select("a", "b").collect()])
            comp = spark.createDataFrame(
                sorted(mapping.items()),
                schema="image_id string, cluster_id string")
            rep_clusters = (reps.select("image_id")
                            .join(F.broadcast(comp), "image_id", "left")
                            .select("image_id",
                                    F.coalesce("cluster_id", "image_id")
                                    .alias("cluster_id")))
        else:
            rep_clusters = assign_clusters(edges, reps)
        (expand_clusters(rep_clusters, groups)
         .withColumn("pbucket", cluster_pbucket(cfg))
         .repartition(cfg.cluster_buckets, F.col("pbucket"))
         .write.mode("overwrite").partitionBy("pbucket")
         .parquet(p("clusters")))
        clusters = spark.read.parquet(p("clusters"))
        s["rows"] = clusters.count()
    with tracer.span("keyidx") as s:
        write_ck_index(groups, p("ck_index"), cfg)
        write_edge_index(edges, p("edge_index"), cfg)
        write_id_index(clusters, groups, p("id_index"), cfg)
        s["rows"] = sum(spark.read.parquet(p(t)).count()
                        for t in ("ck_index", "edge_index", "id_index"))
    return clusters, "driver" if driver else "distributed"


def trace_build(run: Run, spark, cfg, base, ids: set) -> dict:
    """``run()`` through the public API, then the composed chain, whose
    clusters must equal it."""
    tracer = ledger.Tracer(spark.sparkContext)
    with tracer.untraced("run"):
        t = time.perf_counter()
        ref = run.op("build", lambda: assign(
            build(spark, cfg, base, run.path("api"))))
        api_s = time.perf_counter() - t
    t = time.perf_counter()
    out = run.op("chain", lambda: build_chain(spark, cfg, base,
                                              run.path("chain"), tracer))
    traced_s = time.perf_counter() - t
    if out is not None and ref is not None:
        got = assign(out[0])
        run.detail["cc_side"] = out[1]
        run.gate("chain_equals_run", got == ref,
                 {"rows": len(got), "differ":
                  sum(1 for k in ref if got.get(k) != ref[k])})
        ok, info = check_clusters(run, got, ids)
        run.gate("chain_build", ok, info)
    spark.stop()
    span_sum = sum(s["t1"] - s["t0"] for s in tracer.spans)
    return finish_trace(run, tracer, {
        "api_wall_s": api_s,
        "overlap_credit_s": span_sum - api_s,
        "traced_wall_s": traced_s})


# ---------------------------------------------------------- serve workload

def run_serve(run: Run) -> dict:
    from gsearch_spark.operators.pipeline import incremental_add
    from gsearch_spark.operators.remove import purge_removed, remove_images
    from pyspark.sql import functions as F

    meta = run.fixture.meta
    add_dir = run.fixture.add_batch
    gone = meta["remove_ids"]
    t0 = time.perf_counter()
    spark = start_session(run)
    cfg = config(run.cores)
    base = spark.read.parquet(run.fixture.base)
    live = set(meta["base_ids"])
    ckpt = run.path("serve")
    want: "dict[str, str]" = {}
    if run.trace:
        # the rebuild the mutated build must equal: its corpus is known
        # up front, so it is built beside the base build (sharing the
        # cold-JVM warm-up) instead of after the timed operations
        final = spark.read.parquet(run.fixture.base, add_dir).filter(
            ~F.col("image_id").isin(gone))

        def rebuild() -> None:
            want.update(assign(build(spark, cfg, final,
                                     run.path("rebuild"))))

        side = threading.Thread(
            target=inheritable_thread_target(spark)(rebuild))
        side.start()
        try:
            build(spark, cfg, base, ckpt)
        finally:
            side.join()
    else:
        build(spark, cfg, base, ckpt)
    batches = probe_batches(run, spark)
    if run.trace:
        tracer, trace_extra = trace_requests(run, spark, ckpt, live,
                                             batches)
        reads = None
    else:
        tracer, reads = None, batches
    setup_s = time.perf_counter() - t0

    def span(layer: str):
        return tracer.span(layer) if tracer else nullcontext({})

    t_measure = time.perf_counter()
    gone_df = spark.createDataFrame([(x,) for x in gone], "image_id string")
    with span("remove") as s:
        n = run.op("remove", lambda: remove_images(
            spark, cfg, ckpt, gone_df).count())
        s["rows"] = n or 0
    live -= set(gone)
    # like the CLI's add: the new batch is its own parquet source, and
    # all_images is every source minus the removed rows (the add refuses
    # anything else)
    new = spark.read.parquet(add_dir)
    all_images = spark.read.parquet(run.fixture.base, add_dir).filter(
        ~F.col("image_id").isin(gone))
    with span("pipeline") as s:
        n = run.op("add", lambda: incremental_add(
            spark, cfg, ckpt, new, all_images).count())
        s["rows"] = n or 0
    live |= set(meta["add_ids"])
    with span("purge") as s:
        stats = run.op("purge", lambda: purge_removed(spark, cfg, ckpt))
        s["rows"] = (stats or {}).get("tombstones_purged", 0)
    t_end = time.perf_counter()
    if reads is not None:
        warm_request(spark, ckpt, next(reads))
        while (len(run.lat["request"]) < READS
               or time.perf_counter() - t_measure < run.seconds):
            request_once(run, spark, ckpt, next(reads), live)

    got = assign(spark.read.parquet(os.path.join(ckpt, "clusters")))
    ok, info = check_clusters(run, got, live)
    run.gate("mutated_clusters", ok, info)
    if run.trace:
        run.gate("mutated_equals_rebuild", bool(want) and got == want,
                 {"rows": len(got), "differ":
                  sum(1 for k in want if got.get(k) != want[k])})
        run.detail["pipeline_state"] = [
            r.asDict() for r in spark.read.parquet(
                os.path.join(ckpt, "pipeline_state"))
            .filter(F.col("stage").rlike("^(add|rm)_"))
            .groupBy("stage").agg(F.max("rows_out").alias("rows_out"),
                                  F.round(F.max("seconds"), 3)
                                  .alias("seconds"))
            .orderBy("stage").collect()]
    storage = path_bytes(ckpt) / (path_bytes(run.fixture.base)
                                 + path_bytes(add_dir))
    spark.stop()
    if run.trace:
        trace_extra["traced_wall_s"] = t_end - trace_extra.pop("t_chain")
        return finish_trace(run, tracer, trace_extra)
    write_s = sum(run.lat["add"] + run.lat["remove"] + run.lat["purge"])
    return {"setup_s": (setup_s, "s"),
            "write_s": (write_s, "s"),
            "images_per_s": ((ADD_BATCH_ROWS + len(gone)) / write_s,
                             "images/s"),
            "read_p50_s": (median(run.lat["request"]), "s"),
            "storage_ratio": (storage, "ratio")}


def request_chain(spark, ckpt: str, probes, tracer: ledger.Tracer):
    """``request()``'s chain on a build without removals, from the same
    public functions.  The probe bands and the candidates are
    materialized (``request`` keeps them lazy) so that banding and
    probe/rank jobs land in their own spans."""
    from gsearch_spark.config import PipelineConfig
    from gsearch_spark.fs import CheckpointFS
    from gsearch_spark.operators.banding import explode_all_bands
    from gsearch_spark.operators.request import (probe_candidates,
                                                 rank_answers)
    from gsearch_spark.operators.signatures import compute_signatures

    cfg = PipelineConfig.reload_via(CheckpointFS(spark, ckpt), ckpt)
    cap = cfg.max_bucket_probe or None
    with tracer.span("signatures") as s:
        q_sigs = compute_signatures(probes, cfg).localCheckpoint()
        s["rows"] = q_sigs.count()
    with tracer.span("banding") as s:
        q_bands = explode_all_bands(q_sigs, cfg).localCheckpoint()
        s["rows"] = q_bands.count()
    with tracer.span("request") as s:
        cands = probe_candidates(
            q_bands, spark.read.parquet(f"{ckpt}/bands"),
            max_bucket_probe=cap).localCheckpoint()
        n_cands = cands.count()
        rows = rank_answers(cands, q_sigs,
                            spark.read.parquet(f"{ckpt}/signatures"),
                            cfg, K, MAX_DISTANCE).collect()
        s["rows"] = len(rows)
    return rows, n_cands


def _answer_key(rows) -> list:
    return sorted((r["query_id"], r["target_id"], r["rank"],
                   r["distance"]) for r in rows)


def trace_requests(run: Run, spark, ckpt: str, live: set, batches):
    """Serve's traced read path on the base build: one untimed
    ``request``, two timed ones through the public API, then the
    composed chain on the batch of the two with more answers (so the
    comparison is not of two empty answer lists), which must return the
    same answers."""
    from gsearch_spark.operators.request import request
    warm_request(spark, ckpt, next(batches))
    tracer = ledger.Tracer(spark.sparkContext)
    api, calls = [], []
    with tracer.untraced("request"):
        for _ in range(2):
            ids, df = next(batches)
            t = time.perf_counter()
            rows = run.op("request", lambda: request(
                spark, ckpt, df, k=K, max_distance=MAX_DISTANCE).collect())
            api.append(time.perf_counter() - t)
            calls.append((len(rows or ()), rows, ids, df))
    _, ref, ids, df = max(calls, key=lambda c: c[0])
    t_chain = time.perf_counter()
    out = run.op("chain", lambda: request_chain(spark, ckpt, df, tracer))
    span_sum = sum(s["t1"] - s["t0"] for s in tracer.spans)
    n_cands = 0
    if out is not None and ref is not None:
        rows, n_cands = out
        run.gate("chain_equals_request",
                 _answer_key(rows) == _answer_key(ref),
                 {"answers": len(rows), "reference": len(ref)})
        ok, info = check_answers(rows, ids, live,
                                 run.fixture.meta["exact_sources"])
        run.gate("chain_request", ok, info)
    return tracer, {"api_wall_s": median(api),
                    "overlap_credit_s": span_sum - median(api),
                    "t_chain": t_chain, "n_probes": len(ids),
                    "n_cands": n_cands}


def finish_trace(run: Run, tracer: ledger.Tracer, extra: dict) -> dict:
    """The session is stopped: read the event log into layer metrics."""
    book = ledger.read_event_log(run.path("eventlog"))
    vals, detail = ledger.layer_metrics(tracer, book, run.cores, extra)
    run.detail["trace"] = extra
    run.detail["ledger"] = detail
    uncovered = vals["trace.uncovered_share"]
    run.gate("spans_cover_traced_wall", uncovered <= MAX_UNCOVERED,
             {"uncovered_share": round(uncovered, 4)})
    specs = ledger.metric_specs()
    return {name: (vals[name], specs[name][0]) for name in specs}


WORKLOADS = {"build": run_build, "serve": run_serve}

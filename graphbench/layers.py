"""The traced run: per-layer numbers, measured from outside the package.

Each layer's inputs are cached and materialized first; the layer's
output is then materialized at its boundary inside a span that tags the
layer's jobs with a Spark job group.  Spans and counts are kept in
memory and reported at exit; CPU, shuffle and spill per layer come from
the Spark event log of the traced session, and Python time from the
executed plan's SQL metrics.

The sweep covers every layer whatever ``--workload`` names, so each
traced invocation reports the full per-layer table:

1. untraced session: the inputs, the delta store seed and a
   ``pipeline.triples`` build over graph_dup5's input (the two warm the
   JVM up), then the ``graph_unique`` operation, the reference for the
   tracing overhead;
2. traced session (event log on) in the same warm JVM: the layers of
   ``pipeline.triples_dedup`` (graph_dup5 input) and of
   ``pipeline.triples`` (graph_unique input; together they are the
   traced ``graph_unique`` build), one delta batch (``update_graph``
   then ``assemble_graph``) and the two ``operators.neardup`` passes.

The ``pipeline.triples`` and ``pipeline.triples_dedup`` layers are
rebuilt here from the package's public functions, cut where the package
persists its intermediates.  Each rebuilt graph is checked against the
package's own build over the same input: both must optimize to the
same plan, caches included, or the traced run counts a failure.  A
change to how ``triples`` or ``triples_dedup`` caches or projects its
intermediates therefore fails the traced run until this file follows.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from riksdagen_sentences_spark.operators import neardup as ND
from riksdagen_sentences_spark.plans import delta as D
from riksdagen_sentences_spark.plans import pipeline as P
from riksdagen_sentences_spark.ids import uuid5_col

import workloads as W

LAYERS = (
    "pipeline.sentence_base",
    "pipeline.sentences",
    "pipeline.token_base",
    "pipeline.rawtokens",
    "pipeline.edges",
    "pipeline.files_mapping",
    "pipeline.content_skeletons",
    "pipeline.expand_skeletons",
    "delta.update_graph",
    "delta.assemble_graph",
    "neardup.prefix_jaccard_pairs",
    "neardup.lsh_candidate_pairs",
)
# the layers pipeline.triples runs; rawtokens is a separate canonical
# table that triples() does not build
TRIPLES_PATH = (
    "pipeline.sentence_base",
    "pipeline.sentences",
    "pipeline.token_base",
    "pipeline.edges",
)


class Tracer:
    """Spans (name, start, end) and per-layer counts, kept in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def seconds(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1 in self.spans if n == name]

    def group_at(self, t: float) -> str | None:
        """The span open at epoch time ``t``: jobs a package-internal
        thread pool submits do not inherit the caller's job group."""
        for n, t0, t1 in self.spans:
            if t0 <= t <= t1:
                return n
        return None


def _plan_metric(jplan, key: str) -> float:
    """Sum SQL metric ``key`` over a physical plan, descending through
    adaptive plans, query stages and cached relations.  Nanosecond
    timings are converted to seconds, millisecond timings likewise."""
    total, todo = 0.0, [jplan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        metric = node.metrics().get(key)
        if metric.isDefined():
            m = metric.get()
            scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(m.metricType(), 1.0)
            total += m.value() * scale
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return total


def _store_files(store: str, skip: tuple[str, ...] = ()) -> dict[str, int]:
    """Data files under a delta store (path -> bytes), hidden and
    marker files excluded."""
    out = {}
    for dirpath, _, names in os.walk(store):
        rel = os.path.relpath(dirpath, store).split(os.sep)[0]
        if rel in skip:
            continue
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _same_plan(copy, ref) -> list[str]:
    """An error unless ``copy``, this file's layer-by-layer rebuild,
    optimizes to the same plan as ``ref``, the package's own build.
    Both plans read the caches the rebuild persisted: the package's
    persist calls find the same plans already cached."""
    a = copy._jdf.queryExecution().optimizedPlan()
    b = ref._jdf.queryExecution().optimizedPlan()
    if a.sameResult(b):
        return []
    return ["the traced layers no longer rebuild the package's plan"]


def pipeline_layers(bench, tr: Tracer, gu: W.GraphUnique) -> None:
    spark = bench.spark
    docs = P.docs_from_files(gu.input())
    with tr.span("pipeline.sentence_base"):
        base = P.sentence_base(docs).drop("cleaned").persist()
        n_base = base.count()
    tr.counts["pipeline.sentence_base.rows_out"] = n_base
    tr.counts["pipeline.sentence_base.python_s"] = _plan_metric(
        base._jdf.queryExecution().executedPlan(), "pythonTotalTime"
    )
    with tr.span("pipeline.sentences"):
        sents = P.sentences(base).persist()
        n_sents = sents.count()
    tr.counts["pipeline.sentences.rows_out"] = n_sents
    tr.counts["pipeline.sentences.accept_ratio"] = n_sents / n_base
    with tr.span("pipeline.token_base"):
        # the projected token cache pipeline.triples() builds
        toks = (
            P.token_base(base)
            .select(
                "document_id", "sent_idx", "lang", "score", "word_count",
                "tok_idx", "raw", "cleaned_tok", "norm", "pos",
                "tok_accepted", "sent_accepted",
                uuid5_col(F.lit("sentence"), "text", "document_id", "lang")
                .alias("__sid"),
                uuid5_col(F.lit("rawtoken"), "raw", "pos", "lang")
                .alias("__rid"),
            )
            .persist()
        )
        n_toks = toks.count()
    tr.counts["pipeline.token_base.rows_out"] = n_toks
    n_accepted = toks.filter(F.col("tok_accepted")).count()
    with tr.span("pipeline.rawtokens"):
        n_raw = W.digest_rows(W.digest(P.rawtokens(toks), key=None))
    tr.counts["pipeline.rawtokens.rows_out"] = n_raw
    tr.counts["pipeline.rawtokens.dedup_ratio"] = n_raw / n_accepted
    with tr.span("pipeline.edges"):
        # the six-branch union of pipeline.triples(), over the caches
        edges = (
            P.part_of_edges(sents)
            .unionByName(P.has_text_edges(sents))
            .unionByName(P.occurs_in_edges(toks))
            .unionByName(P.normalizes_to_edges(toks))
            .unionByName(P.mention_edges(sents))
            .unionByName(P.links_to_edges(toks, spark))
        )
        d = W.digest(edges)
    tr.counts["pipeline.edges.rows_out"] = W.digest_rows(d)
    drift = _same_plan(edges, P.triples(spark, docs))
    bench.verify(gu.name, d, drift + _leaks(bench))


def dedup_layers(bench, tr: Tracer, files, naive: dict) -> None:
    """The layers of ``pipeline.triples_dedup``; ``naive`` is the digest
    of ``pipeline.triples`` over the same files, which must match."""
    spark = bench.spark
    n_files = files.count()
    with tr.span("pipeline.files_mapping"):
        mapping = P.files_mapping(files).persist()
        n_map = mapping.count()
    tr.counts["pipeline.files_mapping.rows_out"] = n_map
    # triples_dedup's per-content representatives, cached as the input
    # of content_skeletons
    reps = (
        files.select(F.sha2("content", 256).alias("content_sha"), "content")
        .dropDuplicates(["content_sha"])
        .persist()
    )
    n_reps = reps.count()
    tr.counts["pipeline.content_skeletons.reuse_ratio"] = n_reps / n_files
    with tr.span("pipeline.content_skeletons"):
        skel = {
            k: v.persist()
            for k, v in P.content_skeletons(spark, reps).items()
        }
        n_skel = sum(v.count() for v in skel.values())
    tr.counts["pipeline.content_skeletons.rows_out"] = n_skel
    with tr.span("pipeline.expand_skeletons"):
        sent_edges, occurs, mentions = P.expand_skeletons(
            skel, mapping, broadcast_mapping=n_map <= P.BROADCAST_MAPPING_MAX_ROWS
        )
        graph = (
            sent_edges.unionByName(occurs)
            .unionByName(skel["content_edges"])
            .unionByName(mentions)
        )
        d = W.digest(graph)
    tr.counts["pipeline.expand_skeletons.rows_out"] = W.digest_rows(d)
    drift = _same_plan(graph, P.triples_dedup(spark, files))
    errors = [] if naive == d else [f"triples {naive} != triples_dedup {d}"]
    bench.verify(W.GraphDup5.name, d, drift + errors + _leaks(bench))


def delta_layers(bench, tr: Tracer, du: W.DeltaUpdates) -> None:
    """One delta batch on the seeded store, and the read after it."""
    spark = bench.spark
    store = du.path("store")
    before = _store_files(store)
    with tr.span("delta.update_graph"):
        counts = D.update_graph(spark, store, du.batch())
    written = {p: n for p, n in _store_files(store).items() if before.get(p) != n}
    tr.counts["delta.update_graph.rows_out"] = counts["files_new"]
    tr.counts["delta.update_graph.files_written"] = len(written)
    tr.counts["delta.update_graph.bytes_written"] = sum(written.values())
    tr.counts["delta.update_graph.fresh_ratio"] = (
        counts["contents_fresh"] / counts["files_new"]
    )
    want = du.expected_counts()
    got = {k: counts[k] for k in want}
    errors = [] if got == want else [f"counts {got} != {want}"]
    # assemble_graph reads every table but the contents ledger
    tr.counts["delta.assemble_graph.files_read"] = len(
        _store_files(store, skip=("contents_ledger",))
    )
    with tr.span("delta.assemble_graph"):
        d = W.digest(D.assemble_graph(spark, store))
    tr.counts["delta.assemble_graph.rows_out"] = W.digest_rows(d)
    bench.verify(du.name, d, errors + _leaks(bench))


def neardup_layers(bench, tr: Tracer, nd: W.NeardupPass) -> None:
    docs = nd.input()
    check = {}
    with tr.span("neardup.prefix_jaccard_pairs"):
        check["prefix_jaccard_pairs"] = W.digest(
            ND.prefix_jaccard_pairs(
                docs, W.PREFIX_T[0], W.PREFIX_T[1], text_col="content"
            ),
            key=None,
        )
    with tr.span("neardup.lsh_candidate_pairs"):
        check["lsh_candidate_pairs"] = W.digest(
            ND.lsh_candidate_pairs(docs, text_col="content"), key=None
        )
    for k, d in check.items():
        tr.counts[f"neardup.{k}.rows_out"] = W.digest_rows(d)
    bench.verify(nd.name, check, _leaks(bench))


def _run_s(bench, wl: W.Workload) -> float:
    """Wall time of one verified run; the traced metrics need it."""
    out = bench.attempt(wl.name, wl.run)
    if out is None:
        raise RuntimeError(f"{wl.name} failed in the traced run")
    return out.seconds


def _leaks(bench) -> list[str]:
    n = bench.release()
    return [f"{n} persisted RDDs leaked"] if n else []


def event_log_stats(log_dir: str, tr: Tracer) -> dict[str, dict[str, float]]:
    """Executor CPU seconds, shuffle bytes written and bytes spilled to
    disk per span name, summed over the tasks of the span's jobs."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, list[float]] = {}
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or tr.group_at(
                        ev["Submission Time"] / 1000.0
                    )
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    acc = per_stage.setdefault(ev["Stage ID"], [0.0, 0.0, 0.0])
                    acc[0] += tm.get("Executor CPU Time", 0) / 1e9
                    acc[1] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc[2] += tm.get("Disk Bytes Spilled", 0)
    out: dict[str, dict[str, float]] = {}
    for sid, (cpu, shuffle, spill) in per_stage.items():
        g = out.setdefault(
            stage_group.get(sid) or "",
            {"cpu_s": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0},
        )
        g["cpu_s"] += cpu
        g["shuffle_write_bytes"] += shuffle
        g["spill_bytes"] += spill
    return out


def run_trace(bench, n: int):
    """The two phases above; returns the per-layer metrics and the run
    context."""
    phases: list[tuple[str, float]] = []
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t0
        t1 = time.perf_counter()
        phases.append((name, round(t1 - t0, 3)))
        t0 = t1

    # 1. untraced session
    spark = bench.start_session(n)
    gu, du, nd = (
        cls(spark, bench.seed, bench.work)
        for cls in (W.GraphUnique, W.DeltaUpdates, W.NeardupPass)
    )
    for wl in (gu, du, nd):
        wl.generate()
    phase("generate")
    # the store seed runs the kernel chain over graph_dup5's input, and
    # the naive build of the same files, which dedup_layers compares
    # with, warms up pipeline.triples
    du.seed_store()
    phase("seed_store")
    naive = W.digest(P.triples(spark, P.docs_from_files(du.input())))
    bench.release()
    phase("naive_build")
    untraced_run_s = _run_s(bench, gu)
    stats = gu.input_stats()
    bench.stop_session()
    phase("untraced_run")

    # 2. traced session, in the same warm JVM
    log_dir = os.path.join(bench.work, "eventlog")
    os.makedirs(log_dir)
    spark = bench.start_session(n, event_log_dir=log_dir)
    for wl in (gu, du, nd):
        wl.spark = spark
    tr = Tracer(spark)
    dedup_layers(bench, tr, du.input(), naive)
    pipeline_layers(bench, tr, gu)
    delta_layers(bench, tr, du)
    neardup_layers(bench, tr, nd)
    bench.stop_session()  # flushes the event log
    ev = event_log_stats(log_dir, tr)
    phase("traced_session")

    metrics: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        spans = tr.seconds(layer)
        e = ev.get(layer, {})
        metrics[f"{layer}.s"] = (sum(spans), "s")
        metrics[f"{layer}.rows_out"] = (tr.counts[f"{layer}.rows_out"], "count")
        metrics[f"{layer}.cpu_s"] = (e.get("cpu_s", 0.0), "s")
        metrics[f"{layer}.shuffle_write_bytes"] = (
            e.get("shuffle_write_bytes", 0), "bytes"
        )
        metrics[f"{layer}.spill_bytes"] = (e.get("spill_bytes", 0), "bytes")
    units = {
        "pipeline.sentence_base.python_s": "s",
        "pipeline.sentences.accept_ratio": "ratio",
        "pipeline.rawtokens.dedup_ratio": "ratio",
        "pipeline.content_skeletons.reuse_ratio": "ratio",
        "delta.update_graph.fresh_ratio": "ratio",
        "delta.update_graph.files_written": "count",
        "delta.update_graph.bytes_written": "bytes",
        "delta.assemble_graph.files_read": "count",
    }
    for k, u in units.items():
        metrics[k] = (tr.counts[k], u)
    # the traced graph_unique build is its layer-by-layer build
    traced_run_s = sum(metrics[f"{k}.s"][0] for k in TRIPLES_PATH)
    metrics["trace.untraced_run_s"] = (untraced_run_s, "s")
    metrics["trace.traced_run_s"] = (traced_run_s, "s")
    metrics["trace.overhead_s"] = (traced_run_s - untraced_run_s, "s")
    metrics["trace.layer_sum_share"] = (traced_run_s / untraced_run_s, "ratio")
    extra = {
        **stats,
        "spans": [(s, round(t1 - t0, 4)) for s, t0, t1 in tr.spans],
        "unattributed_cpu_s": ev.get("", {}).get("cpu_s", 0.0),
        "phase_s": phases,
    }
    return metrics, extra

"""The traced run: per-layer metrics measured from outside ccspark.

Spans are recorded by wrapping each layer's public functions (module
attributes, so callers inside ccspark that go through the module see
the wrapper).  A wrapped call runs the real function, then materializes
its DataFrame result (``localCheckpoint``) inside the span and under a
Spark job group named after the layer, so the span covers the layer's
work and Spark's event log attributes stages (shuffle, spill, GC,
Arrow bytes to and from Python) to the same name.  Counts are taken
after a span closes, under the job group ``trace``.  Spans are kept in
memory and written out as JSON at the end; a layer's busy time is the
sum of its spans' self time (duration minus child spans).

training_mix's traced run also runs the crawl_hygiene pass (month-1
signatures, decontaminate, screen_new_crawl, dedup_near) once warm and
once traced, checked like every pass; the dedup.near, dedup.screen and
decontam metrics come from that traced pass.  No listed workload runs
those layers in its timed passes: their fixed cost does not fit the
per-run budget.

Layers that run fused inside one Arrow stage (the document gates and
the line kernel) cannot be split by spans; their busy time and counts
come from the Python-worker hook in ``perfbench.pyhook``, summed over
workers (task-seconds, not wall).
"""

from __future__ import annotations

import glob as _glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

from perfbench import check

# (module, function, layer) wrapped during the traced pass
LAYER_FUNCS = (
    ("ccspark.sources", "read_wet", "sources"),
    ("ccspark.pipeline", "with_geo", "geo"),
    ("ccspark.pipeline", "explode_clean_fused", "arrowkernel.stage"),
    ("ccspark.quality", "domain_quality", "quality"),
    ("ccspark.dedup", "dedup_keep_first", "dedup.exact"),
    ("ccspark.lid", "predict", "lid"),
    ("ccspark.skew", "cap_per_key", "skew"),
    ("ccspark.pipeline", "write_partitioned", "write"),
    ("ccspark.decontam", "remove_contaminated", "decontam"),
    ("ccspark.dedup", "minhash_signature_table", "dedup.screen"),
    ("ccspark.dedup", "incremental_near_dups", "dedup.screen"),
    ("ccspark.dedup", "dedup_near", "dedup.near"),
    ("ccspark.dedup", "minhash_near_dups", "dedup.near"),
)
# facade methods: parent spans only (their results stay lazy), except
# build_training_corpus, whose residual plan above the last wrapped
# boundary is the PII scrub projection - materialized as layer "scrub"
API_METHODS = ("process_wet", "lid_pass", "finalize", "build_training_corpus",
               "decontaminate", "screen_new_crawl", "dedup_near")
RESIDUAL = {"build_training_corpus": "scrub"}
# lid.predict receives the lid_pass page reassembly as a lazy plan; it
# is materialized before the span opens so lid time is scoring only
PRE_MATERIALIZE = ("predict",)
COUNT_IN = ("with_geo", "dedup_keep_first", "cap_per_key",
            "remove_contaminated", "incremental_near_dups", "dedup_near")
COUNT_OUT = COUNT_IN + ("read_wet", "predict", "minhash_near_dups")

NEAR_THRESHOLD = 0.5          # CCSparkCorpus.dedup_near default
# the workload whose traced run also measures the hygiene layers
HYGIENE_HOST = "training_mix"
HYGIENE_LAYERS = ("dedup.near", "dedup.screen", "decontam")

PER_LAYER = {
    "sources.busy_s": "s", "sources.records_in": "count",
    "sources.pages_out": "count", "sources.mb_in": "MB",
    "geo.busy_s": "s", "geo.pages_in": "count", "geo.pages_out": "count",
    "arrowkernel.busy_s": "s", "arrowkernel.lines_in": "count",
    "arrowkernel.lines_kept": "count", "arrowkernel.py_mb_in": "MB",
    "arrowkernel.py_mb_out": "MB", "arrowkernel.lines_per_s_1core": "1/s",
    "arrowgate.busy_s": "s", "arrowgate.pages_in": "count",
    "arrowgate.pages_kept": "count", "arrowgate.pages_per_s_1core": "1/s",
    "quality.busy_s": "s",
    "scrub.busy_s": "s", "scrub.lines_in": "count",
    "scrub.lines_changed": "count",
    "dedup.exact.busy_s": "s", "dedup.exact.rows_in": "count",
    "dedup.exact.rows_out": "count", "dedup.exact.shuffle_mb": "MB",
    "dedup.near.busy_s": "s", "dedup.near.candidate_pairs": "count",
    "dedup.near.pairs_kept": "ratio", "dedup.near.docs_removed": "count",
    "dedup.near.shuffle_mb": "MB",
    "dedup.screen.busy_s": "s", "dedup.screen.history_mb": "MB",
    "dedup.screen.docs_dropped": "count",
    "decontam.busy_s": "s", "decontam.docs_in": "count",
    "decontam.docs_flagged": "count",
    "lid.busy_s": "s", "lid.pages_scored": "count", "lid.pages_per_s": "1/s",
    "skew.busy_s": "s", "skew.rows_in": "count", "skew.rows_out": "count",
    "write.busy_s": "s", "write.files": "count", "write.mb": "MB",
    "write.rows": "count",
    "session.gc_s": "s", "session.shuffle_write_mb": "MB",
    "session.spill_mb": "MB", "session.tasks": "count",
    "session.task_skew": "ratio", "session.speedup_1_to_n": "ratio",
    "session.peak_rss_mb": "MB",
    "pass.wall_s": "s", "pass.docs_per_s": "docs/s",
    "trace.overhead_s": "s",
}

MB = 1024 * 1024


class Tracer:
    """Spans and counters of one traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: dict = defaultdict(float)
        self.materialized: dict = {}
        self.last: dict = {}
        self._undo: list = []

    # -- spans --------------------------------------------------------

    def open(self, name: str, layer: str) -> dict:
        span = {"id": len(self.spans), "name": name, "layer": layer,
                "parent": self.stack[-1] if self.stack else None,
                "start": time.perf_counter(), "end": None,
                "group": self.sc.getLocalProperty("spark.jobGroup.id")}
        self.spans.append(span)
        self.stack.append(span["id"])
        self.sc.setJobGroup(layer, name)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self.stack.pop()
        if span["group"] is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["group"])

    def materialize(self, df):
        if id(df) in self.materialized:
            return df
        out = df.localCheckpoint(eager=True)
        self.materialized[id(out)] = out
        return out

    def count(self, df) -> int:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup("trace", "count")
        try:
            return df.count()
        finally:
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev, prev)

    def self_times(self) -> dict:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        busy = defaultdict(float)
        for s in self.spans:
            s["self"] = s["end"] - s["start"] - child[s["id"]]
            busy[s["layer"]] += s["self"]
        return busy

    # -- wrappers -----------------------------------------------------

    def install(self) -> None:
        import importlib

        from pyspark.sql import DataFrame

        from ccspark.api import CCSparkCorpus

        def layer_wrapper(fname, layer, orig):
            def traced(*args, **kw):
                pos = next((i for i, a in enumerate(args)
                            if isinstance(a, DataFrame)), None)
                if pos is not None and fname in PRE_MATERIALIZE:
                    args = (args[:pos] + (self.materialize(args[pos]),)
                            + args[pos + 1:])
                first = args[pos] if pos is not None else None
                span = self.open(fname, layer)
                try:
                    out = orig(*args, **kw)
                    if isinstance(out, DataFrame):
                        out = self.materialize(out)
                finally:
                    self.close(span)
                self.on_layer(fname, layer, args, kw, first, out)
                return out
            return traced

        for mod_name, fname, layer in LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fname)
            self._undo.append((mod, fname, orig))
            setattr(mod, fname, layer_wrapper(fname, layer, orig))

        def api_wrapper(mname, orig):
            def traced(corpus, *args, **kw):
                span = self.open(mname, "api")
                try:
                    out = orig(corpus, *args, **kw)
                    if mname in RESIDUAL:
                        inner = self.open(mname + ".residual",
                                          RESIDUAL[mname])
                        try:
                            out = self.materialize(out)
                        finally:
                            self.close(inner)
                finally:
                    self.close(span)
                if mname in RESIDUAL:
                    self.on_residual(out)
                return out
            return traced

        for mname in API_METHODS:
            orig = getattr(CCSparkCorpus, mname)
            self._undo.append((CCSparkCorpus, mname, orig))
            setattr(CCSparkCorpus, mname, api_wrapper(mname, orig))

    def uninstall(self) -> None:
        for obj, name, orig in reversed(self._undo):
            setattr(obj, name, orig)
        self._undo.clear()

    # -- counts (after the span, job group "trace") ----------------------

    def on_layer(self, fname, layer, args, kw, first, out) -> None:
        c = self.counts
        n_in = self.count(first) if fname in COUNT_IN else None
        n_out = self.count(out) if fname in COUNT_OUT else None
        if fname == "read_wet":
            c["sources.pages_out"] += n_out
            c["sources.mb_in"] += sum(
                os.path.getsize(p) for p in _glob.glob(args[1])) / MB
        elif fname == "with_geo":
            c["geo.pages_in"] += n_in
            c["geo.pages_out"] += n_out
        elif fname == "dedup_keep_first":
            c["dedup.exact.rows_in"] += n_in
            c["dedup.exact.rows_out"] += n_out
            self.last["dedup"] = out
        elif fname == "predict":
            c["lid.pages_scored"] += n_out
        elif fname == "cap_per_key":
            c["skew.rows_in"] += n_in
            c["skew.rows_out"] += n_out
        elif fname == "remove_contaminated":
            c["decontam.docs_in"] += n_in
            c["decontam.docs_flagged"] += n_in - n_out
        elif fname == "incremental_near_dups":
            c["dedup.screen.docs_dropped"] += n_in - n_out
            hist = args[1] if len(args) > 1 else kw["history_sig"]
            c["dedup.screen.history_mb"] += sum(
                os.path.getsize(p.replace("file://", ""))
                for p in hist.inputFiles()) / MB
        elif fname == "dedup_near":
            c["dedup.near.docs_removed"] += n_in - n_out
        elif fname == "minhash_near_dups":
            from pyspark.sql import functions as F
            kept = self.count(out.where(F.col("jaccard_est")
                                        >= NEAR_THRESHOLD))
            c["dedup.near.candidate_pairs"] += n_out
            c["_near_kept"] += kept
        elif fname == "write_partitioned":
            path = args[1] if len(args) > 1 else kw["path"]
            files = [p for p in _glob.glob(os.path.join(path, "**", "*"),
                                           recursive=True)
                     if p.endswith(".parquet")]
            c["write.files"] += len(files)
            c["write.mb"] += check.stored_bytes(path) / MB
            import pyarrow.parquet as pq
            c["write.rows"] += sum(pq.read_metadata(p).num_rows
                                   for p in files)

    def on_residual(self, out) -> None:
        from pyspark.sql import functions as F
        base = self.last.get("dedup")
        self.counts["scrub.lines_in"] += self.count(out)
        if base is not None:
            joined = out.join(base.select("url", "line_id",
                                          F.col("text").alias("_t0")),
                              ["url", "line_id"])
            self.counts["scrub.lines_changed"] += self.count(
                joined.where(F.col("text") != F.col("_t0")))


# ---------------------------------------------------------------------
# the worker hook's records and Spark's event log

def read_hook(hook_dir: str) -> dict:
    agg = defaultdict(lambda: [0.0, 0, 0])
    for p in _glob.glob(os.path.join(hook_dir, "*.jsonl")):
        with open(p) as f:
            for line in f:
                name, dt, n_in, n_out = json.loads(line)
                a = agg[name]
                a[0] += dt
                a[1] += n_in
                a[2] += n_out
    return agg


def clear_hook(hook_dir: str) -> None:
    for p in _glob.glob(os.path.join(hook_dir, "*.jsonl")):
        os.remove(p)


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def parse_eventlog(path: str) -> dict:
    """Per job group: tasks, GC, shuffle write, spill, Python bytes and
    per-stage task durations."""
    stage_group: dict = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups[stage_group.get(sid)]
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                g["tasks"] += 1
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
                g["spill"] += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") == PY_SENT:
                        g["py_sent"] += float(acc.get("Update", 0))
                    elif acc.get("Name") == PY_RECV:
                        g["py_recv"] += float(acc.get("Update", 0))
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                stage_tasks[(stage_group.get(sid), sid)].append(dur)
    for (g, _), durs in stage_tasks.items():
        groups[g]["_stages"] = groups[g].get("_stages", []) + [durs]
    return groups


def task_skew(stages: list) -> float:
    """max/median task time of the heaviest stage with 2+ tasks."""
    best, ratio = -1.0, 1.0
    for durs in stages:
        if len(durs) < 2:
            continue
        med = statistics.median(durs)
        if sum(durs) > best and med > 0:
            best, ratio = sum(durs), max(durs) / med
    return ratio


# ---------------------------------------------------------------------
# the traced run

def kernel_rates(wl) -> tuple[float, float]:
    """Direct single-process calls of the line kernel and the document
    gates on this workload's own texts (no Spark): lines/s, pages/s."""
    import pyarrow as pa

    from ccspark import arrowgate, arrowkernel
    texts, langs = wl.sample()
    lines = pa.array([ln for t in texts for ln in t.split("\n")],
                     pa.string())
    pages = pa.array(texts, pa.string())
    lang_arr = pa.array(langs, pa.string()) if langs is not None else None

    def kernel():
        for i in range(0, len(lines), 4096):
            arrowkernel.verdict_batch(lines.slice(i, 4096))

    def gates():
        for i in range(0, len(pages), 4096):
            chunk = pages.slice(i, 4096)
            arrowgate.c4_keep_batch(chunk)
            arrowgate.gopher_keep_batch(
                chunk, None if lang_arr is None else lang_arr.slice(i, 4096))

    def rate(fn, n):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return n / statistics.median(times)
    return rate(kernel, len(lines)), rate(gates, len(pages))


def trace_pass(spark, passes):
    """One pass of ``passes`` under a fresh tracer -> (wall, tracer)."""
    tracer = Tracer(spark)
    tracer.install()
    try:
        wall = passes.run(spark)
    finally:
        tracer.uninstall()
    return wall, tracer


def hygiene(spark, work: str, seed: int, passes):
    """The crawl_hygiene pass, warm-up then traced, on its own seeded
    inputs; its pass counts are added to ``passes``.  -> tracer or
    None."""
    from perfbench import gen
    from perfbench.run import Passes
    from perfbench.workloads import CrawlHygiene
    hy = CrawlHygiene(gen.gen_crawl_hygiene(
        os.path.join(work, "inputs", "hygiene"), seed))
    hy.setup(spark)
    hp = Passes(hy, os.path.join(work, "out-hygiene"))
    spark.sparkContext.setJobGroup("hygiene.warmup", "hygiene warm-up")
    hp.run(spark)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    wall, tracer = trace_pass(spark, hp)
    passes.attempted += hp.attempted
    passes.failed += hp.failed
    passes.errors += hp.errors
    return tracer if wall is not None else None


def traced(wl, work: str, seed: int):
    """A warm-up pass, an untraced pass, a traced pass (plus the hygiene
    pass on HYGIENE_HOST), the same job on local[1], and the direct
    kernel rates -> (correct, passes, per-layer metrics)."""
    from perfbench.run import Passes, new_session, nproc, tree_hwm_mb
    hook_dir = os.path.join(work, "pyhook")
    log_dir = os.path.join(work, "eventlog")
    spark = new_session(nproc())
    wl.setup(spark)
    sc = spark.sparkContext
    passes = Passes(wl, os.path.join(work, "out"))
    passes.run(spark)                                  # warm-up
    sc.setJobGroup("untraced", "untraced pass")
    wall_n = passes.run(spark)
    sc.setLocalProperty("spark.jobGroup.id", None)

    clear_hook(hook_dir)
    traced_wall, tracer = trace_pass(spark, passes)
    hook = read_hook(hook_dir)
    rss = tree_hwm_mb()
    busy = tracer.self_times()
    c = tracer.counts
    hy = None
    if wl.name == HYGIENE_HOST:
        hy = hygiene(spark, work, seed, passes)
        if hy is None:
            return False, passes, {}
        busy.update({k: v for k, v in hy.self_times().items()
                     if k in HYGIENE_LAYERS})
        c.update({k: v for k, v in hy.counts.items()
                  if k.startswith(HYGIENE_LAYERS + ("_near",))})
    spark.stop()
    logs = sorted(_glob.glob(os.path.join(log_dir, "*")))
    groups = parse_eventlog(logs[0]) if logs else {}

    # same JVM (JIT and codegen caches warm), fresh Python workers
    spark = new_session(1)
    wl.setup(spark)
    wall_1 = passes.run(spark)
    spark.stop()
    lines_rate, pages_rate = kernel_rates(wl)

    if wall_n is None or traced_wall is None or wall_1 is None:
        return False, passes, {}
    g = groups

    def grp(name, key):
        return g[name][key] if name in g else 0.0

    kernel, c4, gopher, wet = (hook.get(k, [0.0, 0, 0]) for k in (
        "verdict_batch", "c4_keep_batch", "gopher_keep_batch",
        "parse_wet_bytes"))
    untraced = g.get("untraced", {})
    m = {name: 0.0 for name in PER_LAYER}
    m.update({k: v for k, v in c.items() if k in PER_LAYER})
    m.update({
        "sources.busy_s": busy.get("sources", 0.0),
        "sources.records_in": wet[1],
        "geo.busy_s": busy.get("geo", 0.0),
        "arrowkernel.busy_s": kernel[0],
        "arrowkernel.lines_in": kernel[1],
        "arrowkernel.lines_kept": kernel[2],
        "arrowkernel.py_mb_in": grp("arrowkernel.stage", "py_sent") / MB,
        "arrowkernel.py_mb_out": grp("arrowkernel.stage", "py_recv") / MB,
        "arrowkernel.lines_per_s_1core": lines_rate,
        "arrowgate.busy_s": c4[0] + gopher[0],
        "arrowgate.pages_in": c4[1],
        "arrowgate.pages_kept": gopher[2],
        "arrowgate.pages_per_s_1core": pages_rate,
        "quality.busy_s": busy.get("quality", 0.0),
        "scrub.busy_s": busy.get("scrub", 0.0),
        "dedup.exact.busy_s": busy.get("dedup.exact", 0.0),
        "dedup.exact.shuffle_mb": grp("dedup.exact", "shuffle_write") / MB,
        "dedup.near.busy_s": busy.get("dedup.near", 0.0),
        "dedup.near.pairs_kept": (c["_near_kept"] / c["dedup.near.candidate_pairs"]
                                  if c["dedup.near.candidate_pairs"] else 0.0),
        "dedup.near.shuffle_mb": grp("dedup.near", "shuffle_write") / MB,
        "dedup.screen.busy_s": busy.get("dedup.screen", 0.0),
        "decontam.busy_s": busy.get("decontam", 0.0),
        "lid.busy_s": busy.get("lid", 0.0),
        "lid.pages_per_s": (c["lid.pages_scored"] / busy["lid"]
                            if busy.get("lid") else 0.0),
        "skew.busy_s": busy.get("skew", 0.0),
        "write.busy_s": busy.get("write", 0.0),
        "session.gc_s": untraced.get("gc_ms", 0.0) / 1000,
        "session.shuffle_write_mb": untraced.get("shuffle_write", 0.0) / MB,
        "session.spill_mb": untraced.get("spill", 0.0) / MB,
        "session.tasks": untraced.get("tasks", 0.0),
        "session.task_skew": task_skew(untraced.get("_stages", [])),
        "session.speedup_1_to_n": wall_1 / wall_n,
        "session.peak_rss_mb": rss,
        "pass.wall_s": wall_n,
        "pass.docs_per_s": wl.inp.n_docs / wall_n,
        "trace.overhead_s": traced_wall - wall_n,
    })
    spans_path = os.path.join(os.path.dirname(work),
                              f"spans-{os.path.basename(work)}.json")
    with open(spans_path, "w") as f:
        json.dump({"workload": wl.name, "traced_wall_s": traced_wall,
                   "untraced_wall_s": wall_n, "spans": tracer.spans,
                   "hygiene_spans": hy.spans if hy else [],
                   "worker_hook": hook,
                   "job_groups": {str(k): {kk: vv for kk, vv in v.items()
                                          if kk != "_stages"}
                                  for k, v in g.items()}}, f, indent=1)
    print(f"perfbench: spans written to {spans_path}", file=sys.stderr)
    return passes.failed == 0, passes, m

"""Code-search benchmark: build, search, ingest and operators.

Usage (from the repository root):

    python3 perfbench/run.py --workload search --seed 1 --seconds 6 --trace 0

Every run drives the library the way a spark-submit user does, in one
process with one client in a closed loop, on ``local[<cores>]``:

1. set-up: load this seed's cached inputs, start the session;
2. build (cold): ``IndexBuilder.build`` over the seeded corpus;
3. ingest: ``incremental_update`` of one chunk + reopen + query, each
   time onto a fresh copy of the base index, so every append does the
   same work; traced runs add ``delete_docs`` and ``compact``, each
   with reopen + query;
4. search (warm): on the base index again, engine open and one
   warm-up round count as set-up, then ``search_wand`` /
   ``search_or`` / ``search_many`` rounds;
5. operators (warm): a warm-up pass (set-up) and timed passes over a
   light mix of ``__spark_entry__`` queries on fixed tables, in a
   seed-permuted order (traced runs add a heavy mix).

The appends run before the search rounds because they also warm the
query path: sampled straight after the build, query times kept falling
for ten rounds; after the appends they are flat from the second round.
Deletes, compaction and the heavy operator mix cost 30-40 s per run,
so they run in traced runs only, for their correctness checks and
per-layer numbers.

The workload decides which phase gets the ``--seconds`` budget:
``search`` keeps sampling query rounds, ``ingest`` keeps appending.
Traced runs keep both loops at their floors.
Every answer is checked against the reference scorer or the DuckDB
oracle.  The last stdout line is the JSON result.  Its end-to-end
timings are CPU seconds of the process tree, which on a shared host
move far less than wall times (see perfbench/README.md); ``--trace 1``
reports the per-layer metrics instead, wall times among them.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark's modules as the ``perfbench`` package, never as
# top-level names from the script's own directory
sys.path[:] = [ROOT] + [p for p in sys.path
                        if os.path.abspath(p or ".") != HERE]

import numpy as np  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from auctus_spark.index.build import (IndexBuilder, compact,  # noqa: E402
                                      delete_docs)
from auctus_spark.query.bm25 import SearchEngine, search_many  # noqa: E402
from auctus_spark.session import get_spark  # noqa: E402
from auctus_spark.streaming.incremental import (  # noqa: E402
    incremental_update)
from perfbench import inputs, stats, tracing  # noqa: E402
from perfbench.reference import (LiveOracle, check_operator,  # noqa: E402
                                 check_ranked, check_write)

WORKLOADS = ("search", "ingest")
SEARCH_OPS = ("and_hot", "and_tail", "or", "batch")
# rounds of the four search ops: the floor inside the search workload
# (which then samples until --seconds), the fixed count elsewhere
MIN_SEARCH_ROUNDS = {"search": 3, "ingest": 3}
MIN_APPENDS = {"search": 1, "ingest": 2}
# After the appends, the first round of each op type still ran up to
# 1.5x slower than the later, flat ones.
WARMUP_ROUNDS = 1
# timed light operator passes, after one warm-up pass
LIGHT_PASSES = 1
BUILD_STEPS = ("tokenize_chunks", "encode_segments",
               "finalize_term_stats_from_partials")
# The library's default driver heap (48g) exceeds small hosts.  These
# inputs need far less, and a heap every run fills makes the peak RSS
# repeatable: with 3g the JVM's peak moved between 1.4 and 2.3 GB from
# run to run, with 1g it stays near 1.0-1.1 GB.
DRIVER_MEM = "1g"
CACHED_SEEDS = 12


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _data_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _ranked(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.idx_dir = os.path.join(run_dir, "idx")
        self.base_dir = os.path.join(run_dir, "base-idx")
        self.attempted = 0
        self.failures: list[str] = []
        self.notes: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.mem: tracing.RssSampler | None = None
        # A traced run adds deletes, compaction and the heavy operator
        # mix (40-50 s on a loaded host), so it keeps the sampling loops
        # at their floors, to stay well under the 180 s a run may take.
        self.loop_s = 0.0 if args.trace else args.seconds

    # -- bookkeeping ---------------------------------------------------

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def sample(self, key: str, wall_s: float, cpu_s: float) -> None:
        """One sample of a timed op: its wall time and its CPU time."""
        self.samples.setdefault(f"{key}_s", []).append(wall_s)
        self.samples.setdefault(f"{key}_cpu_s", []).append(cpu_s)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of a whole phase, checks and references included
        (reported as a note, not as a metric)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.notes.append(
                f"phase {name}: {time.perf_counter() - t0:.2f} s wall")

    # -- phases --------------------------------------------------------

    def start_session(self):
        confs = {"spark.ui.showConsoleProgress": "false",
                 "spark.sql.warehouse.dir": os.path.join(self.run_dir,
                                                         "warehouse"),
                 "spark.driver.extraJavaOptions":
                     f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                     + tracing.JVM_OPTIONS}
        if self.args.trace:
            confs.update(tracing.event_log_confs(
                os.path.join(self.run_dir, "eventlog")))
        self.tracer = tracing.Tracer()
        with self.tracer.span("session.get_spark", cpu=True,
                              setup=True) as sp:
            self.spark = get_spark("perfbench",
                                   cores=len(os.sched_getaffinity(0)),
                                   extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.tracer.sc = self.spark.sparkContext
        self.get_spark_s = sp.seconds

    def _builder(self) -> IndexBuilder:
        return IndexBuilder(self.spark, self.idx_dir,
                            doc_bucket=inputs.DOC_BUCKET,
                            chunk_docs=inputs.CHUNK_DOCS,
                            term_buckets=inputs.TERM_BUCKETS)

    def _open(self, name="bm25.engine_reopen", **attrs):
        with self.tracer.span(name, **attrs) as sp:
            eng = SearchEngine(self.spark, self.idx_dir,
                               term_buckets=inputs.TERM_BUCKETS)
        return eng, sp.seconds

    def build(self, seed_inputs, oracle):
        tr = self.tracer
        with tr.span("build", cpu=True) as bsp:
            corpus = self.spark.read.parquet(seed_inputs.corpus_dir)
            b = self._builder()
            for m in BUILD_STEPS:
                tr.wrap_method(b, m, f"build.{m}", parent=bsp)
            b.build(corpus, resume=False)
        self.build_s = bsp.seconds
        self.build_cpu_s = bsp.attrs["cpu_s"]
        eng, _ = self._open()
        self.check("build: N and avgdl",
                   eng.n_docs == oracle.idx.n_docs
                   and eng.avgdl == oracle.idx.avgdl)
        self.index_bytes = _dir_bytes(self.idx_dir)
        self.partials_bytes = _dir_bytes(os.path.join(self.idx_dir,
                                                      "partials"))
        segments = os.path.join(self.idx_dir, "segments")
        self.segments_bytes = _dir_bytes(segments)
        self.segment_files = _data_files(segments)
        self.postings = sum(len(p) for p in oracle.idx.postings.values())
        shutil.copytree(self.idx_dir, self.base_dir)

    def _restore_base(self) -> None:
        """Put the freshly built index back (outside timed sections)."""
        shutil.rmtree(self.idx_dir)
        shutil.copytree(self.base_dir, self.idx_dir)

    def _search(self, eng, op, entry_, answers, record=True):
        """One checked search call, sampled per query."""
        tr = self.tracer
        batch = op == "batch"
        qid = entry_[0]["id"].split(".")[0] if batch else entry_["id"]
        try:
            with tr.span(f"bm25.{op}", cpu=True, record=record) as sp:
                with tr.span(f"bm25.{op}.plan") as plan:
                    if batch:
                        df = search_many(
                            eng, {e["id"]: e["q"] for e in entry_},
                            k=inputs.TOP_K)
                    elif op == "or":
                        df = eng.search_or(entry_["q"], k=inputs.TOP_K)
                    else:
                        df = eng.search_wand(entry_["q"], k=inputs.TOP_K)
                with tr.span(f"bm25.{op}.execute"):
                    rows = df.collect()
        except Exception as e:  # counted as a failed op
            self.check(f"{qid} ({op}): {type(e).__name__}: {e}", False)
            return
        if batch:
            per_q: dict[str, list] = {e["id"]: [] for e in entry_}
            for r in rows:
                per_q[r["query_id"]].append(
                    (int(r["doc_id"]), float(r["score"])))
            gots = [sorted(per_q[e["id"]], key=lambda x: (-x[1], x[0]))
                    for e in entry_]
            ok = all(check_ranked(g, answers[e["id"]])
                     for g, e in zip(gots, entry_))
            sp.attrs["hits_per_k"] = statistics.mean(
                len(g) / inputs.TOP_K for g in gots)
            per_call = len(entry_)
        else:
            got = [(int(r["doc_id"]), float(r["score"])) for r in rows]
            ok = check_ranked(got, answers[entry_["id"]])
            sp.attrs["hits_per_k"] = len(got) / inputs.TOP_K
            per_call = 1
        sp.attrs["plan_s"] = plan.seconds
        self.check(f"{qid} ({op})", ok)
        if record:
            self.sample(op, sp.seconds / per_call,
                        sp.attrs["cpu_s"] / per_call)

    def search(self, answers):
        pools, ref = answers["pools"], answers["search"]
        # the reference answers are those of the base corpus
        self._restore_base()
        # set-up: engine open and warm-up rounds on each pool's last
        # queries, which the loop never samples
        eng, _ = self._open("bm25.engine_open", cpu=True, setup=True)
        with self.tracer.span("search.warmup", cpu=True, setup=True):
            for w in range(1, WARMUP_ROUNDS + 1):
                for op in SEARCH_OPS:
                    self._search(eng, op, pools[op][-w], ref, record=False)

        rng = np.random.Generator(np.random.PCG64(self.args.seed + 11))
        order = {op: [int(i) for i in
                      rng.permutation(len(pools[op]) - WARMUP_ROUNDS)]
                 for op in SEARCH_OPS}
        wl = self.args.workload
        t0 = time.perf_counter()
        n = 0
        while n < MIN_SEARCH_ROUNDS[wl] or (
                wl == "search" and time.perf_counter() - t0 < self.loop_s):
            for op in SEARCH_OPS:
                self._search(eng, op, pools[op][order[op][n % len(order[op])]],
                             ref)
            n += 1

    def ingest(self, seed_inputs, answers, oracle):
        tr = self.tracer
        top_k = inputs.TOP_K
        hot = answers["pools"]["and_hot"][0]["q"].split()[0]
        # every append adds the same chunk to a fresh copy of the base
        # index: the samples do equal work however many fit in a run
        path, docs = seed_inputs.append_batch(0)
        with self.mem.paused():
            oracle.add(docs)
        chunk_bytes = sum(len(t.encode()) for _, t in docs)
        # a hot term and the unique term of a new doc that has it, so
        # the answer is not empty unless the append is visible
        new_id = next(d for d, _ in docs if d % 11 == 0
                      and d in oracle.idx.postings[hot])
        q = f"{hot} uniq_token_{new_id}"
        want = oracle.search(q, top_k)
        wl = self.args.workload
        self.appended_bytes = 0
        t0 = time.perf_counter()
        i = 0
        while i < MIN_APPENDS[wl] or (
                wl == "ingest" and time.perf_counter() - t0 < self.loop_s):
            self._restore_base()
            b = self._builder()
            with tr.span("ingest.append_visible", cpu=True) as sp:
                with tr.span("incremental.update") as up:
                    for m in BUILD_STEPS:
                        tr.wrap_method(b, m, f"incremental.{m}", parent=up)
                    incremental_update(b, self.spark.read.parquet(path))
                eng, _ = self._open()
                got = _ranked(eng.search_wand(q, k=top_k))
            self.check(f"append {i}: {q}", check_write(got, want))
            self.sample("append_visible", sp.seconds, sp.attrs["cpu_s"])
            self.appended_bytes += chunk_bytes
            i += 1

        if not self.args.trace:
            return
        # deletes: the top hits of a hot query plus a seeded sample
        check_q = answers["pools"]["and_hot"][1]["q"]
        rng = np.random.Generator(np.random.PCG64(self.args.seed + 23))
        live = sorted(oracle.idx.doc_len)
        victims = sorted({d for d, _ in oracle.search(check_q, 3)}
                         | {int(d) for d in rng.choice(
                             live, max(1, len(live) // 200), replace=False)})
        with self.mem.paused():
            oracle.delete(victims)
        want = oracle.search(check_q, top_k)
        with tr.span("ingest.delete_visible"):
            delete_docs(self.spark, self.idx_dir, victims)
            eng, _ = self._open()
            got = _ranked(eng.search_wand(check_q, k=top_k))
        self.check(f"delete: {check_q}", check_write(got, want))

        with self.mem.paused():
            oracle.compact()
        wants = {cq: oracle.search(cq, top_k) for cq in (check_q, q)}
        with tr.span("build.compact"):
            compact(self.spark, self.idx_dir, term_buckets=inputs.TERM_BUCKETS)
        eng, _ = self._open()
        for cq, want in wants.items():
            got = _ranked(eng.search_wand(cq, k=top_k))
            self.check(f"compact: {cq}", check_write(got, want))
        self.check("compact: N and avgdl",
                   eng.n_docs == oracle.idx.n_docs
                   and eng.avgdl == oracle.idx.avgdl)

    def operators(self, op_inputs):
        queries = entry.queries()
        rng = np.random.Generator(np.random.PCG64(self.args.seed + 31))
        # pass 0 is the warm-up: its first calls ran up to 2x slower
        passes = [[str(n) for n in rng.permutation(inputs.LIGHT_OPERATORS)]
                  for _ in range(1 + LIGHT_PASSES)]
        if self.args.trace:
            passes.append([str(n) for n in
                           rng.permutation(inputs.HEAVY_OPERATORS)])
        walls: dict[str, list[float]] = {}
        cpus: dict[str, list[float]] = {}

        def run_pass(mix, record):
            for name in mix:
                try:
                    with self.tracer.span(f"ops.{name}", cpu=True,
                                          record=record) as sp:
                        got = queries[name](self.spark,
                                            op_inputs.tables_dir).toPandas()
                except Exception as e:  # counted as a failed op
                    self.check(f"operator {name}: {type(e).__name__}: {e}",
                               False)
                    continue
                if record:
                    walls.setdefault(name, []).append(sp.seconds)
                    cpus.setdefault(name, []).append(sp.attrs["cpu_s"])
                self.check(f"operator {name}", check_operator(
                    got, op_inputs.answer(name), inputs.ROWS_ONLY.get(name)))

        with self.tracer.span("ops.warmup", cpu=True, setup=True):
            run_pass(passes[0], record=False)
        for mix in passes[1:]:
            run_pass(mix, record=True)
        # a pass made of each operator's median: one slow call moves it
        # less than it moves the median of whole passes
        self.operators_pass_s = sum(stats.median(walls[n])
                                    for n in inputs.LIGHT_OPERATORS)
        self.operators_pass_cpu_s = sum(stats.median(cpus[n])
                                        for n in inputs.LIGHT_OPERATORS)


# ---------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------

def end_to_end(run: Run, answers, peak_rss_mb: float) -> dict:
    """Every timing is CPU seconds of the process tree (driver, JVM
    without its JIT compiler threads, Python workers); see
    tracing.tree_cpu_s."""
    med = stats.median
    m: dict[str, tuple[float, str]] = {}
    m["setup_s"] = (sum(sp.attrs["cpu_s"] for sp in run.tracer.spans
                        if sp.attrs.get("setup")), "s")
    m["build_files_per_cpu_s"] = (inputs.BASE_DOCS / run.build_cpu_s,
                                  "files/cpu-s")
    m["index_bytes_per_input_byte"] = (
        run.index_bytes / answers["input_bytes"], "B/B")
    for op in ("and_hot", "and_tail", "or"):
        m[f"{op}_cpu_s"] = (med(run.samples[f"{op}_cpu_s"]), "cpu-s")
    m["batch_cpu_per_query_s"] = (med(run.samples["batch_cpu_s"]), "cpu-s")
    m["append_visible_cpu_s"] = (med(run.samples["append_visible_cpu_s"]),
                                 "cpu-s")
    m["operators_pass_cpu_s"] = (run.operators_pass_cpu_s, "cpu-s")
    m["correct_ops_ratio"] = (
        (run.attempted - len(run.failures)) / run.attempted, "ratio")
    m["peak_rss_mb"] = (peak_rss_mb, "MB")
    return m


def wall_metrics(run: Run) -> dict:
    """The wall-time view of the timed ops (per-layer: they move with
    the host's load far more than the CPU times do)."""
    med = stats.median
    m: dict[str, tuple[float, str]] = {}
    m["wall.setup_s"] = (sum(sp.seconds for sp in run.tracer.spans
                             if sp.attrs.get("setup")), "s")
    m["wall.build_files_per_s"] = (inputs.BASE_DOCS / run.build_s,
                                   "files/s")
    for op in ("and_hot", "and_tail", "or"):
        xs = run.samples[f"{op}_s"]
        m[f"wall.{op}_p50_s"] = (med(xs), "s")
        v, label = stats.tail(xs, 90)
        m[f"wall.{op}_p90_s"] = (v, "s")
        run.notes.append(f"wall.{op}_p90_s reports {label}")
    m["wall.batch_per_query_s"] = (med(run.samples["batch_s"]), "s")
    m["wall.append_visible_s"] = (med(run.samples["append_visible_s"]), "s")
    m["wall.operators_pass_s"] = (run.operators_pass_s, "s")
    return m


def timed_total(m: dict) -> float:
    """One number per run, the CPU time of its timed sections,
    comparable across runs of a workload."""
    keys = ("and_hot_cpu_s", "and_tail_cpu_s", "or_cpu_s",
            "batch_cpu_per_query_s", "append_visible_cpu_s",
            "operators_pass_cpu_s")
    return (sum(m[k][0] for k in keys)
            + inputs.BASE_DOCS / m["build_files_per_cpu_s"][0])


def per_layer(run: Run, e2e: dict, baseline_s: float,
              baseline_how: str) -> dict:
    tr = run.tracer
    folded = tracing.fold_event_log(tracing.find_event_log(
        os.path.join(run.run_dir, "eventlog")), tr.resolver())
    med = statistics.median
    m: dict[str, tuple[float, str]] = wall_metrics(run)

    def rows(name):
        return [tracing.span_row(tr, folded, s) for s in tr.named(name)]

    def total(name, attr):
        return sum(r.total(attr) for r in rows(name))

    m["session.get_spark_s"] = (run.get_spark_s, "s")
    (tok,) = tr.named("build.tokenize_chunks")
    (enc,) = tr.named("build.encode_segments")
    (fts,) = tr.named("build.finalize_term_stats_from_partials")
    for key, sp in (("build.tokenize_chunks", tok),
                    ("build.encode_segments", enc)):
        r = tracing.span_row(tr, folded, sp)
        m[f"{key}_s"] = (sp.seconds, "s")
        m[f"{key}.task_s"] = (r.task_s, "s")
        m[f"{key}.skew"] = (r.skew, "ratio")
    r = tracing.span_row(tr, folded, enc)
    m["build.encode_segments.shuffle_write_bytes"] = (
        r.total("shuffle_write_bytes"), "bytes")
    m["build.encode_segments.spill_bytes"] = (r.total("spill_bytes"),
                                              "bytes")
    m["build.encode_segments.output_files"] = (run.segment_files, "count")
    m["build.finalize_term_stats_s"] = (fts.seconds, "s")
    m["build.finalize_term_stats.self_s"] = (
        tracing.exposed_seconds(fts, [enc]), "s")
    m["build.partials_bytes"] = (run.partials_bytes, "bytes")
    m["build.segments_bytes"] = (run.segments_bytes, "bytes")
    m["codec.bytes_per_posting"] = (run.segments_bytes / run.postings,
                                    "B/posting")
    m["incremental.update_s"] = (
        med(s.seconds for s in tr.named("incremental.update")), "s")
    m["incremental.encode_segments_s"] = (
        med(s.seconds for s in tr.named("incremental.encode_segments")), "s")
    m["incremental.write_amplification"] = (
        total("incremental.update", "output_bytes") / run.appended_bytes,
        "B/B")
    (cmp,) = tr.named("build.compact")
    m["build.compact_s"] = (cmp.seconds, "s")
    m["build.compact.bytes_rewritten"] = (
        total("build.compact", "output_bytes"), "bytes")
    m["bm25.engine_open_s"] = (med(
        s.seconds for s in tr.named("bm25.engine_open")
        + tr.named("bm25.engine_reopen")), "s")
    for op in SEARCH_OPS:
        spans = [s for s in tr.named(f"bm25.{op}") if s.attrs["record"]
                 and "plan_s" in s.attrs]
        rs = [tracing.span_row(tr, folded, s) for s in spans]
        m[f"bm25.{op}.plan_s"] = (med(s.attrs["plan_s"] for s in spans), "s")
        m[f"bm25.{op}.execute_s"] = (med(
            s.seconds - s.attrs["plan_s"] for s in spans), "s")
        m[f"bm25.{op}.jobs"] = (med(r.jobs for r in rs), "count")
        m[f"bm25.{op}.tasks"] = (med(r.tasks for r in rs), "count")
        m[f"bm25.{op}.task_s"] = (med(r.task_s for r in rs), "s")
        m[f"bm25.{op}.shuffle_bytes"] = (
            med(r.total("shuffle_write_bytes") for r in rs), "bytes")
        m[f"bm25.{op}.hits_per_k"] = (
            med(s.attrs["hits_per_k"] for s in spans), "ratio")
    for name in inputs.OPERATORS:
        spans = [s for s in tr.named(f"ops.{name}") if s.attrs["record"]]
        rs = [tracing.span_row(tr, folded, s) for s in spans]
        m[f"ops.{name}_s"] = (med(s.seconds for s in spans), "s")
        m[f"ops.{name}.shuffle_bytes"] = (
            med(r.total("shuffle_write_bytes") for r in rs), "bytes")
        m[f"ops.{name}.spill_bytes"] = (
            med(r.total("spill_bytes") for r in rs), "bytes")
    run.notes.append("tracing overhead against untraced runs of this "
                     f"code and workload: {baseline_how}")
    m["trace.overhead_ratio"] = (timed_total(e2e) / baseline_s - 1.0,
                                 "ratio")
    return m


# ---------------------------------------------------------------------
# untraced results, kept as baselines for the tracing overhead
#
# On a loaded 4-core host a traced run costs 95-105 s and an untraced
# one 55-85 s, so making the untraced twin in every traced invocation
# would overrun the 180 s a run may take.  Untraced runs keep their
# result instead, keyed by the code that ran, the workload and the
# seed.
# ---------------------------------------------------------------------

def code_digest() -> str:
    """Digest of the Python code a run executes: the library, the
    entry module and the benchmark."""
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("auctus_spark", "perfbench"):
        for d, subdirs, files in os.walk(os.path.join(ROOT, top)):
            subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith(".py")]
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _result_path(results_dir: str, workload: str, seed) -> str:
    return os.path.join(results_dir, code_digest(),
                        f"{workload}-seed{seed}.json")


def _save_result(results_dir: str, args, metrics: dict) -> None:
    path = _result_path(results_dir, args.workload, args.seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(metrics, f)


def _baseline(results_dir: str, args) -> tuple[float, str]:
    """Timed total of the untraced run of this code, workload and seed.
    Without one, the median over this code's kept runs of the workload
    on other seeds; without any, one untraced run is made now."""
    def load(path):
        with open(path) as f:
            return timed_total({k: tuple(v)
                                for k, v in json.load(f).items()})
    path = _result_path(results_dir, args.workload, args.seed)
    if os.path.exists(path):
        return load(path), "this seed, kept"
    others = glob.glob(_result_path(results_dir, args.workload, "*"))
    if others:
        return (statistics.median(load(p) for p in others),
                f"median of {len(others)} other seeds, same code")
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", "0"],
                   check=True, stdout=subprocess.DEVNULL, timeout=170)
    return load(path), "this seed, made now"


def _stop_jvm() -> None:
    """End the JVM that PySpark started and wait for it: the gateway
    exits when its stdin closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _prune_cache(cache_root: str, keep: str) -> None:
    """Drop other input shapes, and all but the newest seeds."""
    current = os.path.dirname(keep)
    for d in glob.glob(os.path.join(cache_root, "v*")):
        if d != current:
            shutil.rmtree(d, ignore_errors=True)
    dirs = sorted(glob.glob(os.path.join(current, "seed*")),
                  key=os.path.getmtime)
    for d in dirs[:-CACHED_SEEDS]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(work, "cache")
    seed_inputs = inputs.SeedInputs(cache, args.seed)
    op_inputs = inputs.OperatorInputs(cache)
    results_dir = os.path.join(os.path.dirname(seed_inputs.dir), "results")
    baseline = _baseline(results_dir, args) if args.trace else None

    run = Run(args, os.path.join(work, f"run-{os.getpid()}"))
    os.environ["TMPDIR"] = os.path.join(run.run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    for d in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.makedirs(os.environ[d])
    try:
        with run.phase("inputs"):
            seed_inputs.ensure(n_files=len(os.sched_getaffinity(0)))
            op_inputs.ensure()
            answers = seed_inputs.answers()
            oracle = LiveOracle(seed_inputs.base_docs())
            # the oracle's millions of objects would otherwise be
            # traversed by every full collection inside timed code
            gc.collect()
            gc.freeze()
        with tracing.RssSampler() as mem:
            run.mem = mem
            with run.phase("session"):
                run.start_session()
            try:
                with run.phase("build"):
                    run.build(seed_inputs, oracle)
                with run.phase("ingest"):
                    run.ingest(seed_inputs, answers, oracle)
                with run.phase("search"):
                    run.search(answers)
                with run.phase("operators"):
                    run.operators(op_inputs)
            finally:
                peak = mem.peak_mb
                run.notes.append("peak RSS split (driver: growth since "
                                 "the last reference update): " + ", ".join(
                    f"{k} {v:.0f} MB" for k, v in
                    sorted(mem.peak_parts.items()) if v >= 1))
                with run.phase("stop"):
                    run.spark.stop()
                    _stop_jvm()
        e2e = end_to_end(run, answers, peak)
        if args.trace:
            metrics = per_layer(run, e2e, *baseline)
        else:
            metrics = e2e
            _save_result(results_dir, args, e2e)
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
        _prune_cache(cache, seed_inputs.dir)

    for note in run.notes:
        print(f"# {note}")
    for n, v in sorted(run.samples.items()):
        print(f"# samples {n}: n={len(v)} " + " ".join(f"{x:.3f}" for x in v))
    print("# labels: build=cold; ingest, search and operators=warm;"
          " operators_pass_cpu_s covers "
          + ",".join(inputs.LIGHT_OPERATORS))
    for f in run.failures:
        print(f"# FAILED: {f}")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

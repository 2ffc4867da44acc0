"""Workload process of the KG-pipeline benchmark (started by run.py).

One Python process drives ``local[nproc]`` and runs one operation at a
time: a closed loop with a single client. Set-up (session start, landing
the seeded inputs, warm-up) is timed as ``setup_s``; then operations run
back to back until ``--seconds`` have passed. With ``--trace 1`` the run
instead times one traced operation, then runs each layer function once on
its own ("probes"), and reports per-layer numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TS = "2026-01-01T00:00:00"
# Trickle runs the incremental pipeline with 8 conv-hash buckets (the
# program's default is 32). The bootstrap batch dirties every bucket, and its
# cost grows with the bucket count, not the corpus size; a batch of one
# conversation still dirties 1/8 of the corpus, the same share as 4 of 32
# buckets.
BUCKETS = 8
WARM_BATCHES = 3

# Sizes (see README.md, "Workloads"). The tiny sizes serve the self-tests.
SIZES = {
    "backfill": {"n_convs": 2000, "n_terms": 200, "warm_convs": 20},
    "trickle": {"n_convs": 500, "n_terms": 200, "batch_convs": 1, "conv_turns": 8},
}
TINY_SIZES = {
    "backfill": {"n_convs": 40, "n_terms": 30, "warm_convs": 20},
    "trickle": {"n_convs": 40, "n_terms": 30, "batch_convs": 2, "conv_turns": 4},
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS_START:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def table_digest(df) -> tuple[int, str]:
    """(row count, order-insensitive content hash) of a DataFrame."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def dir_usage(paths: list[str]) -> tuple[int, float]:
    """(files, MB) under `paths`."""
    files, size = 0, 0
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size / 2**20


def data_files(path: str) -> int:
    return sum(1 for _, _, names in os.walk(path)
               for n in names if not n.startswith((".", "_")))


class Backfill:
    """PipelineRunner.run() over landed inputs into a fresh downstream state."""

    MIN_OPS = 1
    DOWNSTREAM = ("mention_detect", "link_score", "canonicalize", "materialize",
                  "edges", "nodes", "_metrics")
    CHECKED = ("materialize", "nodes", "edges")

    def __init__(self, spark, run_dir: str, seed: int, n_convs: int, n_terms: int,
                 warm_convs: int = 0):
        self.spark, self.seed = spark, seed
        self.n_convs, self.n_terms = n_convs, n_terms
        self.warm_convs = warm_convs
        self.run_dir = run_dir
        self.out = os.path.join(run_dir, "kg")
        self.ref = None

    def _runner(self, resume: bool):
        from ontology_mapper_spark.pipeline.runner import PipelineRunner

        return PipelineRunner(self.spark, self.out, n_convs=self.n_convs,
                              n_terms=self.n_terms, seed=self.seed,
                              run_ts=RUN_TS, resume=resume)

    def setup(self) -> None:
        if self.warm_convs:
            # Warm-up: one cold run on a small corpus pays JIT compilation,
            # Python-worker start and first touch of every code path. It
            # leaves the first full-size op closer to steady state than a
            # full-size cold op does (README.md, "Set-up and warm-up").
            warm = Backfill(self.spark, os.path.join(self.run_dir, "warm"), self.seed,
                            self.warm_convs, self.n_terms)
            warm._runner(resume=False).run()
            shutil.rmtree(warm.out)
            log("warm-up done")
        # commits the snapshot and transcripts stages; ops only read them
        self._runner(resume=False).run(stages=["snapshot"])
        self.turns = self.spark.read.parquet(self._path("transcripts")).count()
        self.op_turns = self.turns

    def _path(self, stage: str) -> str:
        return os.path.join(self.out, stage)

    def prepare(self) -> None:
        for stage in self.DOWNSTREAM:
            shutil.rmtree(self._path(stage), ignore_errors=True)

    def op(self) -> None:
        self._runner(resume=True).run()

    def check(self) -> bool:
        """Non-empty outputs, every link counted on exactly one node, and the
        same counts and content hash as the run's first operation."""
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        digest = {t: table_digest(read(self._path(t))) for t in self.CHECKED}
        if self.ref is None:
            self.ref = digest
        node_mentions = read(self._path("nodes")).agg(F.sum("n_mentions")).first()[0]
        return (digest == self.ref and all(n > 0 for n, _ in digest.values())
                and node_mentions == read(self._path("link_score")).count())

    def final_check(self) -> bool:
        return True

    def has_next(self) -> bool:
        return True

    def output_paths(self) -> list[str]:
        return [self._path(s) for s in self.DOWNSTREAM]

    def trace_points(self, tracer) -> None:
        from ontology_mapper_spark import catalog
        from ontology_mapper_spark.pipeline import (
            canonicalize, comention, link_score, materialize, mention_detect, runner)

        for stage in ("snapshot", "transcripts", "mention_detect", "link_score",
                      "canonicalize", "materialize"):
            tracer.wrap(runner.PipelineRunner, stage, f"pipeline.runner.{stage}")
        tracer.wrap(runner.PipelineRunner, "_write_metrics",
                    "pipeline.runner.write_metrics")
        tracer.wrap(catalog, "write_table", "catalog.write_table",
                    after=lambda rec, a, kw, r: rec.update(files=data_files(a[1])))
        tracer.wrap(mention_detect, "build_dictionary", "mention_detect.build_dictionary")
        tracer.wrap(link_score, "dictionary_idf", "link_score.dictionary_idf")
        # lazy layer functions: the span covers building the plan (and any
        # eager job inside it); their compute runs in the stage's write
        for mod, fn in ((mention_detect, "detect_mentions"),
                        (link_score, "link_mentions"),
                        (canonicalize, "canonical_mapping"),
                        (materialize, "extract_triples"),
                        (comention, "comention_edges")):
            tracer.wrap(mod, fn, f"{mod.__name__.rsplit('.', 1)[1]}.{fn}.plan")

    def probes(self, probe) -> None:
        from ontology_mapper_spark.pipeline import (
            build_dictionary, canonical_mapping, comention_edges, detect_mentions,
            extract_triples, link_mentions)
        from ontology_mapper_spark.pipeline.link_score import (
            dictionary_idf, rank_dictionary)

        read = self.spark.read.parquet
        terms, xrefs = read(self._path("snapshot")), read(self._path("snapshot_xrefs"))
        pats, idf = build_dictionary(terms), dictionary_idf(terms)
        probe("mention_detect.detect_mentions",
              lambda: detect_mentions(self.spark, read(self._path("transcripts")), pats))
        probe("link_score.rank_dictionary",
              lambda: rank_dictionary(self.spark, terms, idf))
        probe("link_score.link_mentions",
              lambda: link_mentions(self.spark,
                                    read(self._path("mention_detect")).drop("bucket"),
                                    terms, idf))
        probe("canonicalize.canonical_mapping", lambda: canonical_mapping(terms, xrefs))
        links = read(self._path("link_score")).drop("bucket")
        probe("materialize.extract_triples", lambda: extract_triples(links, run_ts=RUN_TS))
        probe("comention.comention_edges", lambda: comention_edges(links, window_turns=2))


class Trickle:
    """run_incremental_batch after a batch of new conversations lands.

    A batch is the first `conv_turns` turns of `batch_convs` new
    conversations, each in a different bucket: every batch adds the same
    number of turns and dirties the same number of buckets, the two inputs
    a batch's cost depends on, whatever the seed.
    """

    MIN_OPS = 2  # a median over at least two batches, even on a slow host

    def __init__(self, spark, run_dir: str, seed: int, n_convs: int, n_terms: int,
                 batch_convs: int, conv_turns: int, batches: int):
        self.spark, self.seed = spark, seed
        self.n_convs, self.n_terms = n_convs, n_terms
        self.batch_convs, self.conv_turns = batch_convs, conv_turns
        self.op_turns = batch_convs * conv_turns
        # ~40% of conversations are long enough, and bucket collisions skip some
        self.n_pool_convs = batches * batch_convs * 3 + 20
        self.data = os.path.join(run_dir, "data")
        self.out = os.path.join(run_dir, "incremental")
        self.batch = 0
        self.summary: dict = {}

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from ontology_mapper_spark.datagen import build_snapshot, build_transcripts
        from ontology_mapper_spark.datagen.snapshot import ontology_terms_rows
        from ontology_mapper_spark.pipeline import (
            build_dictionary, detect_mentions, link_mentions)
        from ontology_mapper_spark.pipeline.incremental_runner import (
            run_incremental_batch)

        terms, _ = build_snapshot(self.spark, self.n_terms, self.seed)
        terms.write.parquet(os.path.join(self.data, "terms"))
        labels = sorted({r["label"] for r in ontology_terms_rows(self.n_terms, self.seed)})
        build_transcripts(self.spark, n_convs=self.n_convs + self.n_pool_convs,
                          seed=self.seed, mention_labels=labels,
                          ).write.parquet(os.path.join(self.data, "corpus"))
        self.terms = self.spark.read.parquet(os.path.join(self.data, "terms"))
        self.corpus = self.spark.read.parquet(os.path.join(self.data, "corpus"))
        self.first_new = f"conv_{self.n_convs:08d}"
        convs = (self.corpus.groupBy("conv_id").count()
                 .withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(BUCKETS)))
                 .orderBy("conv_id").collect())
        self.base_turns = sum(r["count"] for r in convs if r["conv_id"] < self.first_new)
        self.arrivals: list[list[str]] = []  # conversations of each batch
        log("inputs landed")
        # bootstrap: the first batch processes the whole base corpus (all
        # buckets dirty), which also warms every code path a trickle batch uses
        run_incremental_batch(self.spark, self.view(0), self.terms, None, self.out,
                              buckets=BUCKETS, run_ts=RUN_TS)
        log("bootstrap done")
        # a batch whose turns link no term leaves the link, triple and edge
        # buckets unchanged, and those stages skip it: only conversations
        # whose landed turns yield links may arrive
        landed = self.corpus.where((F.col("conv_id") >= self.first_new)
                                   & (F.col("turn_idx") < self.conv_turns))
        linked = {r["conv_id"] for r in link_mentions(
            self.spark, detect_mentions(self.spark, landed, build_dictionary(self.terms)),
            self.terms, idf=None).select("conv_id").distinct().collect()}
        batch: dict[int, str] = {}
        for r in convs:
            if (r["conv_id"] < self.first_new or r["count"] < self.conv_turns
                    or r["conv_id"] not in linked):
                continue
            batch.setdefault(r["bucket"], r["conv_id"])
            if len(batch) == self.batch_convs:
                self.arrivals.append(sorted(batch.values()))
                batch = {}
        log(f"{len(self.arrivals)} batches selected")
        # warm-up: batches keep getting cheaper while the JIT compiler is at
        # work; the second, third and fourth batch after the bootstrap took
        # 15-17, 12-15 and 11.5-13 CPU-s, so three untimed batches run first
        for _ in range(WARM_BATCHES):
            self.prepare()
            self.op()
            if not self.check():
                raise RuntimeError("warm-up batch failed its check")
        log("warm-up batches done")

    def view(self, batch: int):
        """Base corpus plus what the first `batch` batches landed."""
        from pyspark.sql import functions as F

        landed = [c for convs in self.arrivals[:batch] for c in convs]
        return self.corpus.where((F.col("conv_id") < self.first_new) | (
            F.col("conv_id").isin(landed) & (F.col("turn_idx") < self.conv_turns)))

    def has_next(self) -> bool:
        return self.batch < len(self.arrivals)

    def prepare(self) -> None:
        self.batch += 1

    def op(self) -> None:
        from ontology_mapper_spark.pipeline.incremental_runner import (
            run_incremental_batch)

        self.summary = run_incremental_batch(
            self.spark, self.view(self.batch), self.terms, None, self.out,
            buckets=BUCKETS, run_ts=RUN_TS)

    def check(self) -> bool:
        """Every stage of the batch rebuilt one bucket per conversation that
        landed (each in its own bucket), no more and no fewer."""
        want = len(self.arrivals[self.batch - 1])
        return all(len(self.summary[stage]["changed_buckets"]) == want
                   for stage in ("detect", "link", "materialize", "edges"))

    def final_check(self) -> bool:
        """Compacted incremental state == a from-scratch run on the final corpus."""
        from ontology_mapper_spark.pipeline import (
            build_dictionary, comention_edges, detect_mentions, extract_triples,
            link_mentions)
        from ontology_mapper_spark.pipeline.incremental_cc import (
            compact_edges, compact_triples)

        full = self.view(self.batch)
        links = link_mentions(
            self.spark, detect_mentions(self.spark, full, build_dictionary(self.terms)),
            self.terms, idf=None).persist()
        want = (table_digest(extract_triples(links, run_ts=RUN_TS)),
                table_digest(comention_edges(links, window_turns=2)))
        links.unpersist()
        got = (table_digest(compact_triples(self.spark, os.path.join(self.out, "triples"))),
               table_digest(compact_edges(self.spark, os.path.join(self.out, "edges"))))
        return got == want and want[0][0] > 0

    def output_paths(self) -> list[str]:
        return [self.out]

    def trace_points(self, tracer) -> None:
        from ontology_mapper_spark.pipeline import (
            incremental, incremental_runner, mention_detect)

        for fn, name in (
            ("incremental_detect", "incremental.incremental_detect"),
            ("incremental_link", "incremental.incremental_link"),
            ("incremental_materialize", "incremental_cc.incremental_materialize"),
            ("incremental_edges", "incremental_cc.incremental_edges"),
        ):
            tracer.wrap(incremental_runner, fn, name)
        tracer.wrap(incremental, "bucket_fingerprints", "incremental.bucket_fingerprints")
        tracer.wrap(mention_detect, "build_dictionary", "mention_detect.build_dictionary")

    def probes(self, probe) -> None:
        from ontology_mapper_spark.pipeline.link_score import rank_dictionary

        probe("link_score.rank_dictionary",
              lambda: rank_dictionary(self.spark, self.terms, idf=None))


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    samples. Wall times rise with it; README.md, "Why CPU seconds"."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def session_cpu_s() -> float:
    """CPU seconds (user + system) of every process in this run's session:
    this driver, its JVM and the Python workers, with exited children
    counted in their parent."""
    sid, ticks = os.getsid(0), 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while scanning
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))

    me, total = os.getpid(), hwm_kb("self")
    log(f"peak rss: python {total / 1024:.0f} MB")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            if ppid == me and comm == "java":
                total += hwm_kb(name)
                log(f"peak rss: jvm {hwm_kb(name) / 1024:.0f} MB")
        except (OSError, ValueError):
            continue  # exited while scanning
    return total / 1024


class Loop:
    """Runs operations of one workload and counts attempts and failures."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.attempted = self.failed = 0
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.usage: list[tuple[int, float]] = []

    def once(self, tracer=None) -> None:
        """One timed op (inside span "op" when traced), then its checks."""
        self.wl.prepare()
        cpu0, t0 = session_cpu_s(), time.perf_counter()
        try:
            with tracer.span("op") if tracer else contextlib.nullcontext():
                self.wl.op()
            elapsed, cpu = time.perf_counter() - t0, session_cpu_s() - cpu0
            ok = self.wl.check()
        except Exception as exc:  # a failed op is counted, not fatal
            print(f"perfbench: op failed: {exc!r}", file=sys.stderr)
            elapsed, cpu = time.perf_counter() - t0, session_cpu_s() - cpu0
            ok = False
        self.attempted += 1
        self.failed += not ok
        self.times.append(elapsed)
        self.cpu.append(cpu)
        self.usage.append(dir_usage(self.wl.output_paths()))

    def final(self) -> None:
        if self.attempted and not self.wl.final_check():
            print("perfbench: final output check failed", file=sys.stderr)
            self.failed = self.attempted


def end_to_end(loop: Loop, wl, setup_s: float) -> dict[str, float]:
    # an op's cost is gated in CPU seconds, not wall seconds: on a shared host
    # the wall time of one op swung by up to 60% with other tenants' load, its
    # CPU time far less (README.md, "Why CPU seconds")
    cpu_p50 = statistics.median(loop.cpu)
    return {
        "setup_s": setup_s,
        "op_cpu_s_p50": cpu_p50,
        "turns_per_cpu_s": wl.op_turns / cpu_p50,
        "op_ok_ratio": 1 - loop.failed / loop.attempted,
        "out_files": statistics.median(f for f, _ in loop.usage),
        "out_mb": statistics.median(mb for _, mb in loop.usage),
    }


def per_layer(tracer, groups: dict, wl, rss_mb: float) -> dict[str, float]:
    """Layer metrics of the traced op (op id 1) and the probes (op id 2):
    '<span name>.<measure>' for every span, where `s` is self time and the
    counts (jobs, tasks, MB, rows, files) include the span's descendants,
    plus derived ratios and coverage figures."""
    from tracing import self_times

    spans = [s for s in tracer.spans if s["op"] in (1, 2)]
    selfs = self_times(spans)
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def counts(s) -> dict[str, float]:
        own = {**groups.get(s["id"], {}),
               **{k: s[k] for k in ("rows", "files") if k in s}}
        for kid in kids.get(s["id"], []):
            for k, v in counts(kid).items():
                if k not in ("rows", "files"):
                    own[k] = own.get(k, 0.0) + v
        return own

    out: dict[str, float] = {}
    wall: dict[str, float] = {}
    for s in spans:
        name = s["name"]
        wall[name] = wall.get(name, 0.0) + s["end"] - s["start"]
        for k, v in {"s": selfs[s["id"]], **counts(s)}.items():
            out[f"{name}.{k}"] = out.get(f"{name}.{k}", 0.0) + v
    out["trace.unattributed_jobs"] = groups.get("unattributed", {}).get("jobs", 0.0)
    out["process.peak_rss_mb"] = rss_mb

    op_span = next(s for s in spans if s["name"] == "op")
    op_s = op_span["end"] - op_span["start"]
    out["trace.op_s"] = op_s
    out["trace.uncovered_share"] = selfs[op_span["id"]] / op_s
    stages = [s for s in spans if s["name"] in
              {f"pipeline.runner.{st}" for st in
               ("mention_detect", "link_score", "canonicalize", "materialize")}]
    if stages:
        out["pipeline.runner.stage_coverage"] = min(
            1 - selfs[s["id"]] / (s["end"] - s["start"]) for s in stages)
        pure = sum(wall.get(n, 0.0) for n in (
            "mention_detect.build_dictionary", "mention_detect.detect_mentions",
            "link_score.dictionary_idf", "link_score.link_mentions",
            "canonicalize.canonical_mapping", "materialize.extract_triples",
            "comention.comention_edges"))
        out["pipeline.runner.overhead_s"] = sum(
            s["end"] - s["start"] for s in stages) - pure
    n_ment = out.get("mention_detect.detect_mentions.rows")
    if n_ment:
        out["mentions_per_turn"] = n_ment / wl.op_turns
        out["links_per_mention"] = out.get("link_score.link_mentions.rows", 0.0) / n_ment
    if isinstance(wl, Trickle):
        detect = wl.summary["detect"]
        out["changed_bucket_ratio"] = len(detect["changed_buckets"]) / detect["n_buckets"]
        out["delta_turn_ratio"] = wl.op_turns / (wl.base_turns + wl.batch * wl.op_turns)
    return out


def print_table(layer: dict[str, float]) -> None:
    """Per-layer breakdown of the traced op, one span name per row."""
    cols = ("s", "jobs", "tasks", "shuffle_mb", "spill_mb", "py_mb", "rows")
    names = sorted({k.rsplit(".", 1)[0] for k in layer if k.endswith(".s")})
    print(f"{'layer':42s}" + "".join(f"{c:>11s}" for c in cols))
    for n in names:
        print(f"{n:42s}" + "".join(
            f"{layer.get(f'{n}.{c}', 0.0):11.3f}" for c in cols))
    for k in sorted(layer):
        if k.startswith(("trace.", "op.")) or "." not in k or k.endswith(
                ("overhead_s", "stage_coverage")):
            print(f"{k:42s}{layer[k]:11.3f}")


def main() -> int:
    ap = argparse.ArgumentParser()
    for flag in ("--workload", "--run-dir", "--result"):
        ap.add_argument(flag, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import ontology_mapper_spark

    if not os.path.abspath(ontology_mapper_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {ontology_mapper_spark.__file__}, not the checkout's",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import pandas
    import pyarrow
    import pyspark

    from ontology_mapper_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    size = (TINY_SIZES if args.tiny else SIZES)[args.workload]
    if args.workload == "backfill":
        wl = Backfill(spark, args.run_dir, args.seed, **size)
    else:
        wl = Trickle(spark, args.run_dir, args.seed, **size,
                     batches=int(args.seconds) + 8 + WARM_BATCHES)
    log("session started")
    wl.setup()
    loop = Loop(wl)
    setup_s = time.time() - T_PROCESS_START
    log("set-up done")
    ticks0 = cpu_ticks()

    if args.trace:
        from tracing import Tracer, job_metrics

        from pyspark.sql import DataFrameReader, DataFrameWriter, Observation
        from pyspark.sql import functions as F

        tracer = Tracer(spark.sparkContext)
        wl.trace_points(tracer)
        tracer.wrap(DataFrameWriter, "parquet", "spark.write_parquet")
        tracer.wrap(DataFrameReader, "parquet", "spark.read_parquet")
        tracer.op = 1
        loop.once(tracer)
        tracer.unwrap_all()
        tracer.op = 2  # probes: each layer function run once on its own

        def probe(name, build):
            with tracer.span(name) as rec:
                obs = Observation()
                build().observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite").save()
                rec["rows"] = obs.get["n"]

        wl.probes(probe)
    else:
        # ops run back to back; the loop stops before an op (with its checks)
        # that would likely end past the window, so a run's length tracks
        # --seconds instead of overshooting it by up to one op
        t_measure = time.time()
        cycles: list[float] = []
        while wl.has_next():
            t0 = time.time()
            loop.once()
            cycles.append(time.time() - t0)
            log(f"op {loop.attempted}: {loop.times[-1]:.2f}s")
            if (loop.attempted >= wl.MIN_OPS and time.time() - t_measure
                    + statistics.median(cycles) > args.seconds):
                break
    steal = steal_share(ticks0, cpu_ticks())
    log(f"{loop.attempted} ops done, host steal share {steal:.3f}")
    loop.final()
    log("final check done")
    rss_mb = peak_rss_mb()
    spark.stop()

    if args.trace:
        op_span = next(s for s in tracer.spans if s["name"] == "op")
        window = (op_span["start"], op_span["end"])
        layer = per_layer(
            tracer, job_metrics(os.path.join(args.run_dir, "eventlog"), window), wl,
            rss_mb)
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"{args.workload}-seed{args.seed}.spans.json"))
        print_table(layer)
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = end_to_end(loop, wl, setup_s)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
        "env": {"spark": pyspark.__version__, "pandas": pandas.__version__,
                "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
                "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "op_samples": [round(t, 4) for t in loop.times],
                "cpu_samples": [round(t, 2) for t in loop.cpu],
                "steal_share": round(steal, 4),
                "peak_rss_mb": round(rss_mb, 1)},
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The benchmark's workloads over ``ValidationEngine`` and their metrics.

Each workload is a closed loop with one client: a validation pass, then
rounds of the four reads a results dashboard makes, each call issued when
the previous one returns. The corpus
comes from ``datagen.GenConfig(seed=...)`` and is staged to parquet in the
run's work directory, partitioned by codec (four partitions).

- ``full_validate``: every clip is decoded by ``decode_facts``.
- ``triage_validate``: ``triage_sample_pct=1.0`` with the header-probe
  rule, so decode sees only probe-flagged clips plus a 1 % sample.

Every run does: set-up, one validation pass, ``WARM_ROUNDS`` unmeasured
rounds of reads (the first reads plan their queries and compile their
code), then measured rounds until ``--seconds`` have passed (at least one).
The pass is the first of its Spark application, as in a
validation job run from the command line, so it includes the class
loading, Python-worker start and JIT warm-up such a job pays. A pass
costs about as much on a tenth of the corpus as on all of it (Spark job
and table-commit overhead dominate, not per-clip work): with the C1 JIT
(see ``run.py``) on a 4-core host, 11-16 s for the first pass of
``full_validate`` and 16-25 s for ``triage_validate``, 10-11 s and
16-19 s for the next. With 13-18 s of set-up, a warm-up or second pass
per run would not fit the 48 runs of a benchmark check into its time
budget.

An untraced run reports the end-to-end metrics. A traced run installs
span wrappers around ``ValidationEngine.run`` and the table backend's
methods for its pass, then forces each layer's public functions
standalone over the corpus, and reports per-layer metrics.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

import numpy as np

from . import gate, host
from .trace import Tracer

N_CLIPS = 2000      # corpus size of every workload
WARM_ROUNDS = 3     # unmeasured dashboard refreshes after the pass
READS = ("verdicts", "samples", "violations", "profile")
STAGES = ("profile", "constraints", "audio", "drift")
SETUP_SPANS = ("session.start", "datagen.stage")
TABLEIO_OPS = {  # span name -> backend method the engine calls
    "tableio.replace": "replace_partitions",
    "tableio.append": "append",
    "tableio.compact": "compact",
    # ParquetDirIO.read returns a lazy DataFrame: the span covers file
    # listing and plan construction; the scan runs in the caller's job
    "tableio.read_plan": "read",
}

WORKLOADS = {"full_validate": False, "triage_validate": True}  # name -> triage


def quantile(xs, q: float) -> float:
    """Harrell-Davis estimate of the ``q``-quantile: a mean of all order
    statistics weighted by the Beta((n+1)q, (n+1)(1-q)) law. Pooled reads
    of four kinds fall into clusters; the plain sample median jumps
    between the edges of two clusters from run to run, this does not."""
    if not xs:
        return float("nan")
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    if n == 1:
        return float(s[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    k = 20000
    t = (np.arange(k) + 0.5) / k  # midpoints: the density may be infinite at 0 or 1
    cdf = np.concatenate([[0.0], np.cumsum(t ** (a - 1) * (1 - t) ** (b - 1))])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, np.arange(k + 1) / k, cdf))
    return float(w @ s)


def force(df) -> None:
    """Execute a DataFrame fully without a sink (noop datasource)."""
    df.write.format("noop").mode("overwrite").save()


def span_cost_s(n: int = 20000) -> float:
    """Seconds one traced call adds over the same call untraced."""

    class Probe:
        def call(self):
            return None

    p, tracer = Probe(), Tracer()
    t0 = time.perf_counter()
    for _ in range(n):
        p.call()
    bare = time.perf_counter() - t0
    with tracer.wrapped({"probe": (Probe, "call")}):
        t0 = time.perf_counter()
        for _ in range(n):
            p.call()
        traced = time.perf_counter() - t0
    return max(traced - bare, 0.0) / n


def start_session(work: str):
    from nadeefiler_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        parallelism=host.nproc(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def files_since(root: str, t0: float) -> tuple[int, int]:
    """Data files under ``root`` modified at or after ``t0``: (count, bytes).
    Checksums, markers and staging files are not counted."""
    n = size = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= t0:
                n += 1
                size += st.st_size
    return n, size


class Run:
    """One benchmark run of one workload: set-up, loop, metrics."""

    def __init__(self, name: str, seed: int, traced: bool, work: str,
                 n_clips: int = N_CLIPS):
        from nadeefiler_spark import datagen

        self.triage = WORKLOADS[name]
        self.traced = traced
        self.work = work
        self.cfg = datagen.GenConfig(n_rows=n_clips, seed=seed)
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.gate_checks = 0
        self.gate_errors: list[str] = []
        self.written: dict[str, int] = {}  # stage -> violation rows of the last pass
        self.pass_s: list[float] = []
        self.read_ms: dict[str, list[float]] = {r: [] for r in READS}
        self.stage_ms: dict[str, list[float]] = {s: [] for s in STAGES}
        self.io_counts: list[tuple[int, int, int]] = []  # calls, files, bytes
        self.layer: dict[str, float] = {}

    # --- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from nadeefiler_spark import datagen
        from nadeefiler_spark.engine import ValidationEngine
        from nadeefiler_spark.presets import default_clip_rules
        from nadeefiler_spark.profiler import default_clips_config

        with self.tracer.span("session.start"):
            self.spark = start_session(self.work)
        corpus = f"{self.work}/corpus"
        with self.tracer.span("datagen.stage"):
            datagen.write_clips(self.spark, corpus, self.cfg)
        self.clips = self.spark.read.parquet(f"{corpus}/clips")
        self.refs = self.spark.read.parquet(f"{corpus}/transcript_refs")
        self.golden = datagen.golden_violations(self.cfg)
        self.out = f"{self.work}/engine"
        self.profile_cfg = default_clips_config()
        self.engine = ValidationEngine(
            self.spark, self.out,
            rules=default_clip_rules(with_drift=True, with_header_triage=self.triage),
            profile_cfg=self.profile_cfg,
            triage_sample_pct=1.0 if self.triage else None,
        )

    def setup_s(self) -> float:
        return sum(self.tracer.named(n)[0].ms for n in SETUP_SPANS) / 1000.0

    # --- the closed loop -------------------------------------------------------
    def _attempt(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def _pass(self, run_id: str) -> None:
        self.tracer.run = run_id
        wall0 = time.time()
        t0 = time.perf_counter()
        rows = self._attempt("pass", lambda: self.engine.run(
            self.clips, self.refs, resume=False, run_id=run_id).collect())
        dt = time.perf_counter() - t0
        self.tracer.run = ""
        if rows is not None:
            self.pass_s.append(dt)
            self.written = {}
            for r in rows:
                self.written[r["stage"]] = self.written.get(r["stage"], 0) + r["n_violations"]
            for s in STAGES:
                walls = [r["wall_ms"] for r in rows if r["stage"] == s]
                if walls:
                    self.stage_ms[s].append(float(max(walls)))
            if self.traced:
                calls = sum(len(self.tracer.named(k, run_id)) for k in TABLEIO_OPS)
                self.io_counts.append((calls, *files_since(self.out, wall0)))

    def _reads(self, measured: bool) -> None:
        eng = self.engine
        queries = {
            "verdicts": eng.verdicts,
            "samples": lambda: eng.violation_samples(5),
            "violations": eng.violations,
            "profile": eng.profile_summary,
        }
        for name in READS:
            t0 = time.perf_counter()
            rows = self._attempt(f"read {name}", lambda: queries[name]().collect())
            dt = time.perf_counter() - t0
            if rows is None:
                continue
            if measured:
                self.read_ms[name].append(dt * 1000.0)
            if name == "violations":
                self.gate_checks += 1
                errs = gate.mismatches(rows, self.golden, self.triage, self.written)
                if errs:
                    self.failed += 1  # the read returned wrong output
                    self.gate_errors.extend(errs)

    def loop(self, seconds: float) -> None:
        """The pass, then dashboard refreshes: ``WARM_ROUNDS`` unmeasured,
        then measured ones for ``seconds`` (at least one)."""
        from nadeefiler_spark.engine import ValidationEngine
        from nadeefiler_spark.tableio import ParquetDirIO

        targets = {"engine.run": (ValidationEngine, "run")}
        targets.update({k: (ParquetDirIO, m) for k, m in TABLEIO_OPS.items()})
        with self.tracer.wrapped(targets) if self.traced else contextlib.nullcontext():
            self._pass("pass0")
            for _ in range(WARM_ROUNDS):
                self._reads(measured=False)
            end = time.perf_counter() + seconds
            self._reads(measured=True)
            while time.perf_counter() < end:
                self._reads(measured=True)

    # --- per-layer probes (traced runs) ------------------------------------------
    def probe_layers(self) -> None:
        """Force each layer's public functions standalone over the corpus."""
        from pyspark.sql import functions as F

        from nadeefiler_spark import profiler
        from nadeefiler_spark.operators.headerprobe import triage_route
        from nadeefiler_spark.presets import default_clip_rules
        from nadeefiler_spark.rules.audio_rules import decode_facts
        from nadeefiler_spark.rules.base import RuleContext

        t = self.tracer
        t.run = "probe"
        n = self.cfg.n_rows
        with t.span("audio_rules.decode") as s:
            force(decode_facts(self.clips, with_snr=True))
        self.layer["audio_rules.decode_s"] = s.ms / 1000.0
        self.layer["audio_rules.decode_clips_per_s"] = n / (s.ms / 1000.0)

        routed = triage_route(self.clips, key_col="clip_id", sample_pct=1.0)
        with t.span("headerprobe.route") as s:
            force(routed)
        self.layer["headerprobe.route_s"] = s.ms / 1000.0
        n_decode = routed.where(F.col("route") == "decode").count()
        self.layer["headerprobe.decode_share"] = n_decode / n

        with t.span("profiler.summary") as s:
            force(profiler.profile_summary(self.clips, self.profile_cfg))
        self.layer["profiler.summary_s"] = s.ms / 1000.0
        with t.span("profiler.hist") as s:
            force(profiler.profile_histograms(self.clips, self.profile_cfg))
        self.layer["profiler.hist_s"] = s.ms / 1000.0

        # audio rules read the shared decode facts: cache them once so each
        # rule's time is its own work, not another decode
        decoded = decode_facts(self.clips, with_snr=True).persist()
        decoded.count()
        try:
            ctx = RuleContext(
                spark=self.spark, clips=self.clips, refs=self.refs, decoded=decoded,
                profile_summary=self.engine.profile_summary(),
                profile_hist=self.engine.profile_hist(),
            )
            for rule in default_clip_rules(with_drift=True, with_header_triage=True):
                with t.span(f"rules.{rule.name}") as s:
                    force(rule.violations(ctx))
                self.layer[f"rules.rule_s.{rule.name}"] = s.ms / 1000.0
        finally:
            decoded.unpersist()
        t.run = ""

    # --- metrics -------------------------------------------------------------------
    def reads_pooled(self) -> list[float]:
        return [x for r in READS for x in self.read_ms[r]]

    def end_to_end(self, peak_rss: int) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (self.setup_s(), "s"),
            "clips_per_s": (self.cfg.n_rows / quantile(self.pass_s, 0.5), "clips/s"),
            "read_ms_p50": (quantile(self.reads_pooled(), 0.5), "ms"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        t = self.tracer
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (t.named("session.start")[0].ms / 1000.0, "s"),
            "datagen.stage_s": (t.named("datagen.stage")[0].ms / 1000.0, "s"),
        }
        for s in STAGES:
            out[f"engine.stage_ms.{s}"] = (quantile(self.stage_ms[s], 0.5), "ms")
        runs = [s for s in t.named("engine.run") if s.run.startswith("pass")]
        out["engine.run_ms"] = (quantile([s.ms for s in runs], 0.5), "ms")
        out["engine.self_ms"] = (quantile([t.self_ms(s) for s in runs], 0.5), "ms")
        for span_name in TABLEIO_OPS:
            per_pass = [sum(t.self_ms(x) for x in t.named(span_name, r.run)) for r in runs]
            out[f"{span_name}_ms"] = (quantile(per_pass, 0.5), "ms")
        for i, key in enumerate(("tableio.calls", "tableio.files_written")):
            out[key] = (quantile([c[i] for c in self.io_counts], 0.5), "count")
        out["tableio.bytes_written"] = (quantile([c[2] for c in self.io_counts], 0.5), "bytes")
        for r in READS:
            out[f"read_ms.{r}"] = (quantile(self.read_ms[r], 0.5), "ms")
        for k, v in self.layer.items():
            unit = ("clips/s" if k.endswith("per_s")
                    else "fraction" if k.endswith("share") else "s")
            out[k] = (v, unit)
        # tracing adds one wrapped call per span; on a multi-second pass the
        # wall-clock difference of traced and untraced passes is below the
        # pass-to-pass spread, so the overhead is spans times their cost
        spans = quantile([sum(1 for x in t.spans if x.run == r.run) for r in runs], 0.5)
        out["trace.overhead_ms"] = (spans * span_cost_s() * 1000.0, "ms")
        return out

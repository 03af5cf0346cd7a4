"""KG-pipeline benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload annotate|refresh \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run pins itself to ``harness.CORES``
cpus, generates (or reuses) the seeded inputs under ``.perfbench/``,
derives what the package builds from them (stores, first snapshot) in
a child process when this code version has not yet done so, sets up
``SETUP_REPS`` times, runs the workload's job in a closed loop
for ``--seconds``, checks the outputs, and prints as its last stdout
line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it is a report with the
host, the input properties, sample counts and the gate's findings.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import subprocess
import sys
import time
import traceback

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import workloads  # noqa: E402

# one set-up from process start (interpreter, JVM, session) and one after
# a SparkContext restart: their median is their mean, and both count
SETUP_REPS = 2
REPLAY_DOCS = 300


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def replay(fill_html, pdf, model) -> dict:
    """One-process replay of the fused kernel's pieces with the real
    model. One Python worker's share of the pages its set-up and earlier
    jobs saw (``fill_html``) goes through the tokenizer first, leaving
    the stem memo as a worker's would be; each piece is then timed, from
    that same memo state, over the first REPLAY_DOCS pages of ``pdf``."""
    from dbpedia_spotlight_db_spark.functions import text
    from dbpedia_spotlight_db_spark.plans.annotate import AnnotateConfig
    from dbpedia_spotlight_db_spark.plans.annotate_fused import _annotate_doc

    memo = text._STEM_CACHE
    memo.clear()
    for a in range(0, len(fill_html), 200):
        text.tokenize.func(text.extract_text.func(fill_html.iloc[a:a + 200]))
    fill = len(memo) / text._STEM_CACHE_MAX
    steady = dict(memo)
    html = pdf["html"].iloc[:REPLAY_DOCS]
    urls = pdf["url"].iloc[:REPLAY_DOCS]
    n = len(html)

    def timed(fn):
        memo.clear()
        memo.update(steady)
        t0 = time.perf_counter()
        out = fn()
        return out, (time.perf_counter() - t0) * 1e6 / n

    texts, extract = timed(lambda: text.extract_text.func(html))
    toks, tokenize = timed(lambda: text.tokenize.func(texts))
    lows = [[t["text"].lower() for t in ts] for ts in toks]
    hits, scan = timed(lambda: sum(len(model.automaton.scan(low)) for low in lows))
    cfg = AnnotateConfig()
    cols: list = [[], [], [], [], [], [], []]

    def kernel_pass():
        for url, h in zip(urls, html):
            _annotate_doc(url, h, model, cfg.spotter_threshold, cfg.confidence, cfg.top_m_prior,
                          cfg.w_prior, cfg.w_ctx, cols, context_window=cfg.context_window)

    _, kernel = timed(kernel_pass)
    memo.clear()
    return {
        "text.extract_us_per_doc": extract,
        "text.tokenize_us_per_doc": tokenize,
        "text.stem_memo_fill": fill,
        "spotting.scan_us_per_doc": scan,
        "spotting.hits_per_doc": hits / n,
        "spotting.automaton_states": len(model.automaton.goto),
        "annotate_fused.kernel_us_per_doc": kernel,
        "annotate_fused.score_us_per_doc": kernel - extract - tokenize - scan,
        "annotate_fused.annotations_per_hit": len(cols[0]) / max(1, hits),
    }


class Bench:
    def __init__(self, args, rd, cpus):
        self.args, self.rd, self.cpus = args, rd, cpus
        self.stolen_at_start = self.stolen()
        self.trace = bool(args.trace)
        self.wl = workloads.WORKLOADS[args.workload](rd, args.seed, len(cpus))
        self.spark = None
        self.jobs: list[dict] = []
        self.failed_jobs = 0
        self.closure_s = 0.0

    def _patch_closure(self) -> None:
        """Traced runs time the redirect closure build_model runs."""
        from dbpedia_spotlight_db_spark.operators import closure

        orig = closure.redirect_closure

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.closure_s += time.perf_counter() - t0

        closure.redirect_closure = timed

    def prep_only(self) -> None:
        """Build what the package derives from the inputs (child process)."""
        self.wl.generate()
        self.spark = harness.get_session(self.rd, False)
        self.wl.prep(self.spark)

    def stolen(self) -> float:
        return harness.stolen_s(self.cpus)

    def setup(self) -> None:
        """Timings here and in the loop are net of steal: the wall time
        the hypervisor gave other guests is taken off (the report keeps
        the raw times), so a busy neighbour does not read as slow code."""
        t = time.perf_counter()
        s = self.stolen()
        self.wl.generate()
        if self.wl.needs_prep():
            # in a child process, so set-up starts from a cold JVM and
            # fresh Python workers whether or not prep ran
            a = self.args
            subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", "0", "--prep-only"], check=True)
        prep_s = time.perf_counter() - t
        prep_stolen = self.stolen() - s
        if self.trace:
            self._patch_closure()
        self.setups, self.raw_setups, self.rep_timings = [], [], []
        for r in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            s0 = self.stolen()
            self.spark = harness.get_session(self.rd, self.trace)
            t1 = time.perf_counter()
            last = r == SETUP_REPS - 1
            tracer = harness.Tracer(self.spark, self.trace and last)
            self.wl.timings = {}
            self.closure_s = 0.0
            with tracer.span("session.setup", "session"):
                self.wl.setup(self.spark, tracer)
            t2 = time.perf_counter()
            if r == 0:
                raw = harness.process_age_s() - prep_s
                stolen = self.stolen() - self.stolen_at_start - prep_stolen
            else:
                raw, stolen = t2 - t0, self.stolen() - s0
            self.raw_setups.append(raw)
            self.setups.append(raw - stolen)
            self.wl.timings["session.start_s"] = t1 - t0
            self.wl.timings["closure.closure_s"] = self.closure_s
            self.rep_timings.append(self.wl.timings)
        self.host = harness.host_info(self.spark, self.rd, self.cpus)

    def loop(self, seconds: float, traced: bool, tracer, min_jobs: int = 1) -> None:
        dirs = self.rd.written_dirs
        end = time.perf_counter() + seconds
        while True:
            i = len(self.jobs)
            before = harness.snapshot(dirs)
            t0 = time.perf_counter()
            s0 = self.stolen()
            try:
                r = self.wl.job(i, tracer)
            except Exception:
                traceback.print_exc()
                self.failed_jobs += 1
                return
            r["raw_wall"] = time.perf_counter() - t0
            r["wall"] = r["raw_wall"] - (self.stolen() - s0)
            r["bytes"] = harness.bytes_written(before, dirs)
            r["catalog_bytes"] = harness.bytes_written(
                {p: s for p, s in before.items() if p.startswith(self.rd.warehouse)},
                [self.rd.warehouse])
            r["traced"] = traced
            self.jobs.append(r)
            self.wl.after_job(i, tracer)
            if time.perf_counter() >= end and len(self.jobs) >= min_jobs:
                return

    def run(self) -> None:
        self.phases = {}
        t = time.perf_counter()
        self.setup()
        self.phases["setup"] = time.perf_counter() - t
        t0, s0 = time.perf_counter(), self.stolen()
        with harness.RssSampler() as rss:
            plain = harness.Tracer(self.spark, False)
            if self.trace:
                self.loop(self.args.seconds / 2, False, plain, self.wl.min_jobs)
                self.tracer = harness.Tracer(self.spark, True)
                self.loop(self.args.seconds / 2, True, self.tracer)
            else:
                self.loop(self.args.seconds, False, plain, self.wl.min_jobs)
        self.peak_rss = rss.peak
        self.loop_steal_frac = (self.stolen() - s0) / (time.perf_counter() - t0)
        self.phases["loop"] = time.perf_counter() - t - self.phases["setup"]
        self.memo_fill = self.worker_memo_fill()
        self.checks = []
        if self.jobs:
            try:
                self.checks = self.wl.gate()
            except Exception:
                traceback.print_exc()
                self.checks = [("gate", False, "gate raised")]
        self.phases["gate"] = time.perf_counter() - t - sum(self.phases.values())
        if self.trace and self.jobs:
            self.checks += self.wl.trace_extra(self.tracer)
            self.replay = replay(*self.wl.replay_input())

    def worker_memo_fill(self) -> dict[int, float]:
        """Stem-memo fill of the Python workers the closed loop used,
        by worker pid, read with a small pass after the loop."""
        import pandas as pd

        def probe(batches):
            from dbpedia_spotlight_db_spark.functions import text

            for _ in batches:
                pass
            yield pd.DataFrame({"pid": [os.getpid()],
                                "fill": [len(text._STEM_CACHE) / text._STEM_CACHE_MAX]})

        n = 4 * len(self.cpus)
        rows = (self.spark.range(n, numPartitions=n)
                .mapInPandas(probe, "pid long, fill double").collect())
        return {r.pid: round(r.fill, 4) for r in rows}

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()

    # -- results ---------------------------------------------------------
    def steady_jobs(self) -> list[dict]:
        """Untraced jobs after the loop's warm-up jobs."""
        return [j for j in self.jobs[self.wl.warm_jobs:] if not j["traced"]]

    def end_to_end(self) -> dict:
        jobs = self.steady_jobs()
        return {
            "setup_s": _median(self.setups),
            "docs_per_s": _median(j["docs"] / j["wall"] for j in jobs),
            "peak_rss_mb": self.peak_rss / 2**20,
            "write_bytes_per_doc": _median(j["bytes"] / j["docs"] for j in jobs),
            "triple_precision": self.wl.precision,
            "triple_recall": self.wl.recall,
        }

    def per_layer(self, names: list[str]) -> dict:
        tr = self.tracer
        traced = [j for j in self.jobs if j["traced"]]
        plain = self.steady_jobs()
        name = self.wl.name
        tags = ["session", "catalog", "annotate_fused", "materialize", "refresh.merge",
                "build_stores.input"] + [f"build_stores.{t}" for t in workloads.STORE_TABLES]
        # counters are per traced job; the set-up and the store build ran once
        per = {t: 1 if t.startswith(("session", "build_stores")) else len(traced) for t in tags}
        out = {k: 0.0 for k in names}
        out.update(self.replay)
        for k in ("catalog.load_s", "annotate_fused.build_model_s", "session.start_s",
                  "session.warm_s", "closure.closure_s"):
            out[k] = _median(t.get(k, 0.0) for t in self.rep_timings)
        # the broadcast ships this pickle; sized here, outside the set-up timing
        out["annotate_fused.model_bytes"] = len(pickle.dumps(self.wl.model,
                                                             protocol=pickle.HIGHEST_PROTOCOL))
        counters = harness.spark_counters(self.rd.eventlog, per)
        docs = _median(j["docs"] for j in traced)
        out["annotate_fused.arrow_bytes_to_python"] = counters.get(
            "annotate_fused.python_bytes", 0.0) / max(1, docs)
        out.update({k: v for k, v in counters.items() if k in out})
        out["annotate_fused.pairs_s"] = tr.median("annotate_fused.annotate_mention_pairs")
        out["catalog.save_s"] = tr.median("catalog.save") or tr.median("catalog.save_bucketed")
        out["catalog.bytes_written"] = _median(j["catalog_bytes"] for j in traced)
        if name == "annotate":
            # annotate_to_triples with a checkpoint runs the map pass and
            # writes the checkpoint in one job: take the map pass of the
            # same traced job off it
            out["materialize.checkpoint_s"] = _median(
                a - p for a, p in zip(tr.durations("entrypoint.annotate_to_triples"),
                                      tr.durations("annotate_fused.annotate_mention_pairs")))
            out["materialize.triples_s"] = tr.median("materialize.triples")
        if name == "refresh":
            out["refresh.annotate_s"] = tr.median("entrypoint.annotate_to_triples")
            out["refresh.merge_s"] = tr.median("jobs.refresh.merge_triples")
            out["refresh.save_s"] = tr.median("catalog.save")
            rows = self.wl.rows
            out["refresh.rows_carried"] = _median(r[0] for r in rows)
            out["refresh.rows_replaced"] = _median(r[1] for r in rows)
        for w in (1, 2, 3):
            out[f"build_stores.wave{w}_s"] = tr.median(f"build_stores.wave{w}")
        real_plain = _median(j["real_s"] for j in plain)
        out["trace.overhead_frac"] = (_median(j["real_s"] for j in traced) / real_plain - 1
                                      if real_plain else 0.0)
        missing = set(out) - set(names)
        if missing:
            raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(missing)}")
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["annotate", "refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--prep-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    spec_path = os.path.join(checkout, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(checkout, "dbpedia_spotlight_db_spark"))
            and os.path.isdir(os.path.join(checkout, "jobs")) and os.path.exists(spec_path)):
        print("perfbench: run from the repository root (package, jobs/ and BENCHMARK.json)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    with open(spec_path) as f:
        spec = json.load(f)
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in section}

    rd = harness.RunDir(checkout)
    harness.prepare_env(rd)
    cpus = harness.pin_cores()
    bench = Bench(args, rd, cpus)
    if args.prep_only:
        try:
            bench.prep_only()
        finally:
            bench.stop()
            rd.close()
        return 0
    try:
        try:
            bench.run()
        finally:
            bench.stop()
        ok_jobs = len(bench.jobs)
        values = {}
        if ok_jobs:
            # the event log is complete once the context has stopped
            values = bench.per_layer(list(units)) if args.trace else bench.end_to_end()
    finally:
        rd.close()
    failed = bench.failed_jobs + sum(1 for c in bench.checks if not c[1])
    attempted = ok_jobs + bench.failed_jobs + len(bench.checks)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": getattr(bench, "host", {}),
        "inputs": bench.wl.props,
        "samples": {"setups": len(bench.setups), "jobs": ok_jobs,
                    "traced_jobs": sum(j["traced"] for j in bench.jobs)},
        "setups_s": [round(s, 3) for s in bench.setups],
        "raw_setups_s": [round(s, 3) for s in bench.raw_setups],
        "setup_parts_s": [{k: round(v, 3) for k, v in t.items() if k.endswith("_s")}
                          for t in bench.rep_timings],
        "jobs_s": [round(j["wall"], 3) for j in bench.jobs],
        "raw_jobs_s": [round(j["raw_wall"], 3) for j in bench.jobs],
        "job_parts_s": [{k: round(v, 3) for k, v in j.get("parts_s", {}).items()}
                        for j in bench.jobs],
        # a refresh job is one cycle: delta in, new snapshot published
        **({"refresh_s": _median(j["wall"] for j in bench.steady_jobs())}
           if args.workload == "refresh" else {}),
        "worker_stem_memo_fill": bench.memo_fill,
        # share of the loop's wall time the hypervisor gave to other guests
        "loop_steal_frac": round(bench.loop_steal_frac, 4),
        "phases_s": {k: round(v, 2) for k, v in getattr(bench, "phases", {}).items()},
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in bench.checks],
        "error_rate": failed / max(1, attempted),
    }
    result = {
        "correct": failed == 0 and bool(values),
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units if k in values},
    }
    print(json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

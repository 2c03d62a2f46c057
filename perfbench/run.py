#!/usr/bin/env python3
"""Benchmark of the KG-construction path (and medaCy's predict journey).

    python3 perfbench/run.py --workload kg_build --seed 7 --seconds 20 --trace 0

Run from the repository root. One process, one client, one job at a time
on local[<cores>]. The run:

  1. starts Spark sized to the host and makes the workload's inputs and
     gold from --seed (not timed);
  2. times the program's own set-up (get_spark, plus Model.fit for
     ner_predict) the workload's `setups` times and keeps the median
     (setup_s): the first in a fresh JVM, the others after stopping the
     context in it;
  3. runs the workload's untimed warm-up iterations (a fresh JVM's first
     iteration is about twice as slow as the next, and grows its RSS most);
  4. runs the job back to back for about --seconds (at least once),
     checking every iteration's outputs;
  5. prints one JSON line: the end_to_end metrics of BENCHMARK.json with
     --trace 0, its per_layer metrics with --trace 1. A traced run times
     untraced iterations for half of --seconds and traced ones for the
     other half, and writes its spans to perfbench/_out/.

--smoke shrinks the inputs, skips warm-up and sets up twice, for the
benchmark's own test (perfbench/smoke.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import procmem
from tracing import UNTRACED, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Sized so that a full measurement, 4 + 22 runs a workload in 3420 s, fits a
# 4-core host: a run is about a minute, most of it JVM start, input
# generation and the cold first iteration.
SIZES = {
    "kg_build": {"docs": 5_000, "partitions": 8},
    "kg_resume": {"docs": 5_000, "partitions": 8},
    "ner_predict": {"docs": 500, "train_docs": 50},
}
SMOKE_SIZES = {
    "kg_build": {"docs": 200, "partitions": 4},
    "kg_resume": {"docs": 200, "partitions": 4},
    "ner_predict": {"docs": 50, "train_docs": 50},
}
# layers with the generic counter set, and that set
LAYERS = ("tokenize", "mentions", "relations", "checkpoint", "linking", "graph",
          "ner_model", "scoring")
GENERIC = ("wall_s", "busy_core_s", "cpu_s", "gc_s", "idle_frac", "jobs",
           "shuffle_bytes", "spill_bytes", "rows_out")


T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def host_sizing() -> dict:
    cores = len(os.sched_getaffinity(0))
    # an eighth of the host's RAM, within 1-4 GiB: the inputs are small and a
    # big heap only lengthens G1 pauses (see session.py)
    heap_mb = int(min(4096, max(1024, procmem.host_mem_mb() // 8)))
    return {"cores": cores, "driver_heap_mb": heap_mb}


class Session:
    """Owns the Spark session and the JVM it runs in."""

    def __init__(self, work: str, sizing: dict):
        self.sizing = sizing
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        # everything Spark, the JVM and the Python workers write stays in `work`
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_GRAFT_DRIVER_MEM": f"{sizing['driver_heap_mb']}m",
            "TMPDIR": tmp,
        })
        tempfile.tempdir = None
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a fixed-size heap: RSS then follows what the JVM holds, not
            # G1's run-to-run heap expansion decisions
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{sizing['driver_heap_mb']}m",
        }
        self.spark = None

    def start(self):
        from medacy_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", cores=self.sizing["cores"], extra_conf=self.conf
        )
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for both and every worker."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        tree = procmem.process_tree(gw.proc.pid) if gw is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
            time.sleep(0.1)


def timed(fn):
    t = time.monotonic()
    out = fn()
    return out, time.monotonic() - t


class Bench:
    def __init__(self, args, work: str, session: Session):
        # workloads imports medacy_spark, which main() puts on sys.path
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.session = session
        sizes = SMOKE_SIZES if args.smoke else SIZES
        self.workload = WORKLOADS[args.workload](None, work, args.seed, sizes[args.workload])
        self.n_iter = 0

    def setup(self) -> dict:
        """Inputs and gold, then the program's set-up `setups` times."""
        s, session_s = timed(self.session.start)
        wl = self.workload
        wl.spark = s
        _, prep_s = timed(wl.prepare)
        log(f"session {session_s:.2f}s, inputs+gold {prep_s:.2f}s")
        starts, fits = [session_s], [timed(lambda: wl.setup(s))[1]]
        for _ in range(1 if self.args.smoke else wl.setups - 1):
            s.stop()
            s, dt = timed(self.session.start)
            starts.append(dt)
            fits.append(timed(lambda: wl.setup(s))[1])
        totals = [a + b for a, b in zip(starts, fits)]
        log(f"set-up samples {[round(x, 3) for x in totals]}")
        return {
            "setup_s": statistics.median(totals),
            "session.start_s": statistics.median(starts),
            "model.fit_s": statistics.median(fits) if wl.size.get("train_docs") else 0.0,
        }

    def iteration(self, tr) -> dict:
        from workloads import CheckFailed

        wl = self.workload
        out = os.path.join(self.work, f"out-{self.n_iter}")
        self.n_iter += 1
        wl.before_iteration(tr, out)
        pid = self.session.jvm_pid
        procmem.reset_peaks(pid)
        t0 = time.monotonic()
        rec = {"ok": False, "f1": 0.0}
        try:
            with tr.span("run"):
                wl.iterate(tr, out)
            rec["wall_s"] = time.monotonic() - t0
            rec["peak_rss_mb"] = procmem.peak_rss_mb(pid)
            rec["f1"] = wl.check(out)
            rec["ok"] = rec["f1"] == 1.0
            if not rec["ok"]:
                log(f"iteration {self.n_iter}: f1 {rec['f1']} != 1.0")
        except CheckFailed as e:
            log(f"iteration {self.n_iter}: check failed: {e}")
        except Exception as e:  # the run goes on; the failure is counted
            log(f"iteration {self.n_iter}: raised {type(e).__name__}: {e}")
        rec.setdefault("wall_s", time.monotonic() - t0)
        rec.setdefault("peak_rss_mb", procmem.peak_rss_mb(pid))
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def warm_up(self) -> None:
        for i in range(self.workload.warmup):
            before = procmem.rss_mb(self.session.jvm_pid)
            rec = self.iteration(UNTRACED)
            after = procmem.rss_mb(self.session.jvm_pid)
            log(f"warm-up {i}: {rec['wall_s']:.2f}s, JVM RSS {before:.0f} -> {after:.0f} MB")

    def measure(self, seconds: float, make_tracer) -> list[dict]:
        """Iterations back to back until the next one would end more than
        half an iteration after `seconds`, at least one."""
        recs = []
        deadline = time.monotonic() + seconds
        while not recs or time.monotonic() + recs[-1]["wall_s"] / 2 < deadline:
            tr = make_tracer(len(recs))
            recs.append(self.iteration(tr) | {"tracer": tr})
        log(f"{len(recs)} iterations, wall_s {[round(r['wall_s'], 3) for r in recs]}")
        return recs

    def end_to_end(self, recs: list[dict], setup: dict) -> dict:
        ok = [r for r in recs if r["ok"]] or recs
        wall = statistics.median(r["wall_s"] for r in ok)
        return {
            "wall_s": wall,
            "docs_per_s": self.workload.docs / wall,
            "setup_s": setup["setup_s"],
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in ok),
            "f1": min(r["f1"] for r in recs),
            "ok_ratio": sum(r["ok"] for r in recs) / len(recs),
        }

    def per_layer(self, untraced: list[dict], traced: list[dict], setup: dict) -> dict:
        cores = self.session.sizing["cores"]
        per_iter = []
        for r in traced:
            tot = r["tracer"].layer_totals(cores)
            vals = {f"{layer}.{k}": float(tot.get(layer, {}).get(k, 0.0))
                    for layer in LAYERS for k in GENERIC}
            ck, ln = tot.get("checkpoint", {}), tot.get("linking", {})
            vals["checkpoint.bytes_written"] = float(ck.get("output_bytes", 0.0))
            vals["checkpoint.skipped_ratio"] = (
                ck["skipped"] / ck["partitions"] if ck.get("partitions") else 0.0
            )
            vals["linking.linked_ratio"] = (
                ln["rows_out"] / ln["mentions_in"] if ln.get("mentions_in") else 0.0
            )
            per_iter.append(vals)
        out = {k: statistics.median(v[k] for v in per_iter) for k in per_iter[0]}
        out["session.start_s"] = setup["session.start_s"]
        out["model.fit_s"] = setup["model.fit_s"]
        out["trace.overhead_s"] = (
            statistics.median(r["wall_s"] for r in traced)
            - statistics.median(r["wall_s"] for r in untraced)
        )
        return out

    def run(self) -> dict:
        setup = self.setup()
        if not self.args.smoke:
            self.warm_up()
        seconds = self.args.seconds
        if not self.args.trace:
            recs = self.measure(seconds, lambda i: UNTRACED)
            metrics = self.end_to_end(recs, setup)
        else:
            untraced = self.measure(seconds / 2, lambda i: UNTRACED)
            spark = self.session.spark
            recs = self.measure(
                seconds / 2, lambda i: Tracer(spark, f"{self.args.seed}-{i}", enabled=True)
            )
            metrics = self.per_layer(untraced, recs, setup)
            self.write_trace(recs, metrics)
            recs = untraced + recs
        return {
            "correct": all(r["ok"] for r in recs),
            "attempted": len(recs),
            "failed": sum(not r["ok"] for r in recs),
            "metrics": metrics,
        }

    def write_trace(self, recs: list[dict], metrics: dict) -> None:
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{self.args.workload}-seed{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "workload": self.args.workload,
                "seed": self.args.seed,
                "size": self.workload.size,
                "sizing": self.session.sizing,
                "per_layer": metrics,
                "iterations": [
                    {"wall_s": r["wall_s"], "ok": r["ok"], **r["tracer"].dump()} for r in recs
                ],
            }, f, indent=1)
        log(f"trace written to {os.path.relpath(path, ROOT)}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "medacy_spark")) or not os.path.isfile(spec_path):
        log(f"no medacy_spark package or BENCHMARK.json under {ROOT}: nothing to measure")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    session = Session(work, host_sizing())
    try:
        result = Bench(args, work, session).run()
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = result["metrics"]
    result["metrics"] = {
        m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

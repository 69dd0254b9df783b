"""Benchmark entry point.

    python3 perfbench/run.py --workload {cypher_mixed,analytics_batch}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One process, one
client thread, ``local[$SPARK_GRAFT_CPUS]`` (default: the CPU count).
The run generates its inputs from ``--seed``, starts the session, runs
one untimed round that warms every code path (all charged to
``setup_s``), then repeats the workload's fixed op list until
``--seconds`` have passed (at least once) and checks every output
against references it computes itself.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run times the op list untraced and then traced,
and reports the per-layer metrics. The lines before it are a readable
table. Exit code 2 means the package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Driver heap for local mode. The package default (24g) does not fit a
# 15 GB machine; every workload's working set is well under this.
DRIVER_MEM = "2g"


def process_start_epoch() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def timed_phase(bench, wl, seconds: float) -> dict:
    """Repeat the workload's op list until ``seconds`` have passed, and
    keep each round's wall time and JVM disk writes."""
    rounds, disk = [], []
    bench.lat = {}
    t_phase = time.perf_counter()
    while True:
        wb0 = bench.jvm_write_bytes()
        t0 = time.perf_counter()
        wl.round()
        rounds.append(time.perf_counter() - t0)
        disk.append((bench.jvm_write_bytes() - wb0) / 2**20)
        if time.perf_counter() - t_phase >= seconds:
            break
    lat, bench.lat = bench.lat, None
    return {"rounds": rounds, "lat": lat, "disk_mb": disk}


def op_quantile(by_op: dict, q: float) -> float:
    """Quantile over ops of each op's median latency in the run. An op's
    median is steady over a few calls; a quantile over the raw calls is
    not, since it falls in the gaps between ops of different cost."""
    from common import median, quantile

    return quantile([median(v) for v in by_op.values()], q)


def end_to_end(setup_s: float, phase: dict, bench) -> dict:
    from common import median

    reads, writes = phase["lat"].get("read", {}), phase["lat"].get("write", {})
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(phase["rounds"]), "s"),
        "read_p50_s": (op_quantile(reads, 0.5), "s"),
        "read_p90_s": (op_quantile(reads, 0.9), "s"),
        "write_p50_s": (op_quantile(writes, 0.5), "s"),
        "peak_rss_mb": (bench.peak_rss_mb(), "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cypher_mixed", "analytics_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = process_start_epoch()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import rust_graph_db_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: package under test not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    from common import Bench, become_subreaper, stop_children

    # Every process the run starts is stopped and waited for on every
    # way out, a SIGTERM included.
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    bench = Bench(args.workload, args.seed, bool(args.trace), work)
    try:
        return run(args, bench, t_start, cpus)
    except Exception:  # boundary: a run that cannot finish still reports
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": max(bench.attempted, 1),
                          "failed": max(len(bench.failures), 1), "metrics": {}}))
        return 1
    finally:
        try:
            bench.stop_spark()
        finally:
            stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


class Workload:
    """A workload is one or more parts run back to back in one session;
    a round is one round of each part."""

    def __init__(self, parts):
        self.parts = parts
        self.settings = {f"{p.name}.{k}": v for p in parts for k, v in p.settings.items()}

    def setup(self, bench) -> None:
        """Inputs, then one untimed round on them. The round runs every
        code path once and leaves the state every timed round starts
        from: stores already hold a commit, plans and JIT code are warm."""
        t0 = time.time()
        for p in self.parts:
            p.prepare()
        bench.setup_parts["prepare"] = time.time() - t0
        t0 = time.time()
        self.round()
        bench.setup_parts["untimed_round"] = time.time() - t0

    def round(self) -> None:
        for p in self.parts:
            p.round()

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def layer_values(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_values().items()}


def workload_spec(name: str) -> tuple:
    """(parts, session conf passed to ``get_spark``) of a workload."""
    import wl_cypher
    import wl_dedup
    import wl_pregel

    return {
        "cypher_mixed": ([wl_cypher.CypherMixed], {}),
        # Broadcast joins off: every join takes the shuffle path that a
        # cluster-scale edge table takes.
        "analytics_batch": ([wl_pregel.GraphPregel, wl_dedup.TextDedup],
                            {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
    }[name]


def run(args, bench, t_start: float, cpus: str) -> int:
    from common import median

    parts, conf = workload_spec(args.workload)
    bench.setup_parts["process_to_session"] = time.time() - t_start
    get_spark_s = bench.start_spark(**conf)
    bench.setup_parts["get_spark"] = get_spark_s
    wl = Workload([cls(bench) for cls in parts])
    wl.setup(bench)
    setup_s = time.time() - t_start

    if not args.trace:
        phase = timed_phase(bench, wl, args.seconds)
        metrics = end_to_end(setup_s, phase, bench)
        rounds = len(phase["rounds"])
        per_round = {"wall s": phase["rounds"], "disk MB": phase["disk_mb"]}
    else:
        # untraced, traced, untraced: the overhead compares the traced
        # rounds with untraced rounds on both sides of them
        from spans import Tracer

        before = timed_phase(bench, wl, args.seconds / 3)
        bench.tracer = Tracer(bench.spark.sparkContext)
        bench.tracer.wrap_all()
        bench.tracer.enabled = True
        traced = timed_phase(bench, wl, args.seconds / 3)
        bench.tracer.enabled = False
        bench.tracer.unwrap_all()
        after = timed_phase(bench, wl, args.seconds / 3)
        untraced = before["rounds"] + after["rounds"]
        # untraced rounds only: the event log is written to disk too
        disk_mb = median(before["disk_mb"] + after["disk_mb"])
        rounds = len(traced["rounds"])
    t0 = time.time()
    wl.check()
    metrics_extra = wl.layer_values()
    bench.setup_parts["checks (after timing)"] = time.time() - t0
    t0 = time.time()
    bench.stop_spark()
    bench.setup_parts["session stop (after timing)"] = time.time() - t0

    if args.trace:
        import layers
        from eventlog import EventLog

        # The event log and the spans outlive the run for offline reading
        # (``eventlog.py`` prints the per-stage table of the log).
        keep = os.path.join(os.path.dirname(bench.work),
                            f"trace-{args.workload}-seed{args.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        shutil.move(os.path.join(bench.work, "eventlog"), keep)
        bench.tracer.dump(os.path.join(keep, "spans.jsonl"))
        log_file = next(os.path.join(keep, f) for f in os.listdir(keep) if f != "spans.jsonl")
        extra = dict(metrics_extra)
        extra["session.get_spark_s"] = get_spark_s
        extra["trace.overhead_s"] = median(traced["rounds"]) - median(untraced)
        extra["io.disk_write_mb"] = disk_mb
        values = layers.compute(bench.tracer.spans, EventLog.read(log_file), rounds, extra)
        metrics = {k: (values[k], u) for k, u in layers.PER_LAYER.items()}

    attempted = max(bench.attempted, 1)
    failed = min(len(bench.failures), attempted)
    print(f"workload {args.workload}  seed {args.seed}  local[{cpus}]  "
          f"driver {DRIVER_MEM}  rounds {rounds}  trace {args.trace}")
    for k, v in {**conf, **wl.settings}.items():
        print(f"  setting {k} = {v}")
    for name, rec in bench.inputs.items():
        above = rec["threshold"] < 0 or rec["bytes"] > rec["threshold"]
        print(f"  input {name}: {rec['rows']} rows, {rec['bytes']} bytes, "
              f"{'above' if above else 'below'} autoBroadcastJoinThreshold ({rec['threshold']})")
    if not args.trace:
        for name, vals in per_round.items():
            print(f"  per round {name}: " + " ".join(f"{v:.3f}" for v in vals))
        print("  peak rss: driver {:.0f} MB, jvm {:.0f} MB".format(*bench.peak_rss_parts))
    for name, secs in bench.setup_parts.items():
        print(f"  setup {name}: {secs:.2f} s")
    for name, secs in bench.op_seconds.items():
        print(f"  op {name}: first {secs[0]:.2f} s, median {median(secs):.3f} s, "
              f"last {secs[-1]:.2f} s, {len(secs)} calls")
    for name, (value, unit) in metrics.items():
        print(f"  {name:40s} {value:14.6f} {unit}")
    print(f"  {'error_rate':40s} {failed / attempted:14.6f} ratio "
          f"({failed} of {attempted} ops)")
    for f in bench.failures:
        print(f"  FAILED {f['op']}: {f['error']} {f['detail'].splitlines()[-1] if f['detail'] else ''}")
    print(json.dumps({
        "correct": not bench.failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

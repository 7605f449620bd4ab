#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload pagerank_web --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. It builds the engine and the
benchmark (perfbench/build.py), starts one ``local[nproc]`` JVM that writes
the seeded input table, runs a closed loop of ops (one client, one op in
flight) for ``--seconds`` and checks every op against a single-threaded
oracle. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics. Scratch data lives in a work dir under the build dir
and is removed at exit; traced runs keep their spans in ``<build>/traces``.
"""
import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pagerank_web", "lp_communities")
# whole run, the first build excepted; the contract allows 180 s
DEADLINE_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm_cmd(args, work, trace_out):
    cores = len(os.sched_getaffinity(0))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
            *opens, "-cp", build.classpath(), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--trace-out", trace_out, "--cores", str(cores)]


def run_jvm(cmd, deadline):
    """Runs the JVM, collecting its `GB <json>` events; kills it at the deadline."""
    events = []
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    lines = queue.Queue()
    reader = threading.Thread(target=lambda: [lines.put(x) for x in p.stdout] + [lines.put(None)],
                              daemon=True)
    reader.start()
    timed_out = False
    try:
        while True:
            try:
                line = lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                timed_out = True
                break
            if line is None:
                break
            if not line.startswith("GB "):
                print(line.rstrip(), file=sys.stderr)
                continue
            ev = json.loads(line[3:])
            events.append(ev)
            if ev["event"] == "op":
                print("op {index} {kind}{t}: {wall_s:.3f} s wall, {cpu_s:.2f} cpu-s, "
                      "{iterations} it, gc {gc_s:.2f} s, steal {steal_s:.2f} s, "
                      "runnable {runnable}, ok={ok} {error}".format(
                          t=" traced" if ev["traced"] else "", **ev), file=sys.stderr)
            elif ev["event"] in ("setup", "layers"):
                print(json.dumps(ev), file=sys.stderr)
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        p.wait()
        reader.join()
    return events, p.returncode, timed_out


def result(events, trace, spec_):
    ops = [e for e in events if e["event"] == "op"]
    attempted = sum(1 for e in events if e["event"] == "op_start")
    in_flight = attempted - len(ops)  # an op the JVM died in
    failed = sum(1 for o in ops if not o["ok"]) + in_flight
    timed = [o for o in ops if o["kind"] == "timed" and not o["traced"] and o["ok"]]
    setup = next((e for e in events if e["event"] == "setup"), None)
    ended = any(e["event"] == "end" for e in events)
    if not timed or setup is None:
        return None
    if trace:
        layers = next((e for e in events if e["event"] == "layers"), None)
        if layers is None:
            return None
        got = layers["metrics"]
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in spec_["per_layer"] if got.get(m["name"]) is not None}
        missing = [m["name"] for m in spec_["per_layer"] if m["name"] not in metrics]
        if missing:
            print(f"perfbench: traced run lacks {missing}", file=sys.stderr)
            return None
    else:
        med = statistics.median
        values = {
            "wall_s": med(o["wall_s"] for o in timed),
            "edges_per_s": med(o["edges"] * o["iterations"] / o["wall_s"] for o in timed),
            "cpu_s": med(o["cpu_s"] for o in timed),
            "setup_s": setup["setup_s"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec_["end_to_end"]}
    return {"correct": ended and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally) and work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds <= 0:
        fail("--seconds must be positive")
    try:
        build.build()
    except build.BuildError as e:
        fail(str(e))
    spec_ = spec()
    deadline = time.monotonic() + DEADLINE_S
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        events, code, timed_out = run_jvm(
            jvm_cmd(args, work, os.path.join(bdir, "traces")), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if timed_out:
        print(f"perfbench: run exceeded {DEADLINE_S} s and was stopped", file=sys.stderr)
    res = result(events, args.trace == 1, spec_)
    if res is None:
        fail(f"no result (JVM exit code {code})")
    if code != 0:
        res["correct"] = False
    print(json.dumps(res))


if __name__ == "__main__":
    main()

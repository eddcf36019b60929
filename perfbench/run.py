#!/usr/bin/env python3
"""graft benchmark: one run of one workload, printed as one JSON line.

    python3 perfbench/run.py --workload suite|lump \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source on first use
(perfbench/build.py), starts one JVM for the run with a private temp dir
and Spark local dir, checks every operation's output against
perfbench/expected/, and prints the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

JVM_TIMEOUT_S = 150
# Environment per workload. lump lowers the connected-components
# size gate below its contracted edge count so the distributed star
# rounds run; the suite keeps the program's defaults.
WORKLOAD_ENV = {
    "suite": {},
    "lump": {"SPARK_GRAFT_CC_LOCAL_MAX": "4000"},
}
MODULES = ["relational", "graph", "down", "extras", "rivers", "spatial",
           "text", "web", "media", "stream", "temporal", "pack"]
LUMP_SPANS = ["prelude", "geometry", "serialize", "write"]
GRAPH_SPANS = ["contract", "cc"]
COST_FIELDS = ["wall_s", "jobs", "task_s", "shuffle_mb", "spill_mb", "gc_s", "idle_s"]
# streaming queries checkpoint to /dev/shm when it exists
SHM = Path("/dev/shm")
SHM_LEFTOVER = re.compile(r"^q\d+_sink_\d+_ckpt\d+$")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}


def per_layer_units():
    units = {}
    for m in MODULES:
        units.update({f"suite.{m}.wall_s": "s", f"suite.{m}.jobs": "count",
                      f"suite.{m}.task_s": "s", f"suite.{m}.shuffle_mb": "MB"})
    units.update({"suite.idle_s": "s", "suite.jobs_per_query_p50": "count",
                  "queries.derived.edges_build_s": "s",
                  "queries.derived.nodes_build_s": "s"})
    for span in [f"lump.{s}" for s in LUMP_SPANS] + [f"graph.{s}" for s in GRAPH_SPANS]:
        for f in COST_FIELDS:
            units[f"{span}.{f}"] = "count" if f == "jobs" else "MB" if f.endswith("_mb") else "s"
    for s in LUMP_SPANS:
        units[f"lump.{s}.wall_1core_s"] = "s"
    units.update({"graph.cc.rounds": "count", "scaling.wall_1core_s": "s",
                  "scaling.eff": "ratio", "host.scaling_eff": "ratio",
                  "host.steal_frac": "ratio",
                  "trace.overhead_s": "s", "trace.child_coverage": "ratio",
                  "tmp.leaked_mb": "MB"})
    return units


PER_LAYER = per_layer_units()


def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: how much the hypervisor took."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def shm_entries():
    try:
        return set(os.listdir(SHM))
    except OSError:
        return set()


def run_jvm(args, classes, run_dir):
    """Run perfbench.Main once; returns (raw record, leaked MB, steal share)."""
    tmp, local, work = run_dir / "tmp", run_dir / "local", run_dir / "work"
    # The JVM runs one level below its temp dir and reads the suite's
    # tables through a relative path: the same string in every checkout,
    # so the program's memo keys (which embed it) do not depend on where
    # the checkout sits, and the relative link q34 stages in a temp
    # subdirectory still resolves.
    cwd = tmp / "cwd"
    for d in (cwd, local, work):
        d.mkdir(parents=True)
    data = os.path.relpath(BENCH / "data", cwd)
    result = run_dir / "result.json"
    jars = build.spark_jars()
    # a fixed heap and the single-threaded collector keep peak RSS steady
    # and keep GC threads off the four cores the tasks use
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseSerialGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data,
            "--work", str(work), "--result", str(result)]
    env = dict(os.environ, **WORKLOAD_ENV[args.workload])
    shm_before = shm_entries()
    steal0, total0 = cpu_ticks()
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=cwd)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    steal1, total1 = cpu_ticks()
    # what the run left behind: its temp and Spark dirs (the work dir holds
    # the benchmark's own fixtures) and new stream checkpoints in /dev/shm
    shm_new = [SHM / e for e in shm_entries() - shm_before if SHM_LEFTOVER.match(e)]
    leaked = tree_bytes(tmp) + tree_bytes(local) + sum(tree_bytes(p) for p in shm_new)
    for p in shm_new:
        shutil.rmtree(p, ignore_errors=True)
    if code != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"benchmark JVM exited with {code}:\n{tail}")
    steal = (steal1 - steal0) / max(1, total1 - total0)
    return json.loads(result.read_text()), leaked / 1e6, steal


class Checker:
    """Counts operations and failures against the expected outputs."""

    def __init__(self, expected):
        self.expected = expected
        self.attempted = 0
        self.failures = []

    def op(self, what, ok):
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok


def same_lump_output(got, want):
    return (got.get("lines") == want["lines"] and got.get("features") == want["features"]
            and got.get("hash") == want["hash"]
            and abs(got.get("length_m", 0.0) - want["length_m"]) <= 1e-9 * abs(want["length_m"]))


def check_ops(raw, chk, workload):
    """Mark every operation ok or failed; returns the ok passes' records."""
    exp = chk.expected

    def op_ok(o):
        if "error" in o:
            return False
        if workload == "suite":
            return o["check"].get("rows") == exp[o["name"]]["rows"]
        return same_lump_output(o["check"], exp["output"])

    if workload == "suite":
        for name, c in raw["setup_check"].items():
            want = exp[name]
            chk.op(f"setup {name}: {c}", "error" not in c and c["rows"] == want["rows"]
                   and (want["digest"] is None or c["digest"] == want["digest"]))
    ok_passes = {}
    for key in ("passes", "passes_1core"):
        ok_passes[key] = []
        for p in raw.get(key, []):
            oks = [chk.op(f"{key} {o['name']}: {o.get('error', o['check'])}", op_ok(o)) for o in p]
            if all(oks):
                ok_passes[key].append(p)
    if workload != "suite":
        for key in ("trace", "trace_1core"):
            t = raw.get(key)
            if t:
                chk.op(f"{key} output {t['check']}", same_lump_output(t["check"], exp["output"]))
        if raw.get("trace"):
            t = raw["trace"]
            chk.op(f"trace graph {t['graph_check']} rounds {t['cc_rounds']}",
                   t["graph_check"] == exp["graph"] and t["cc_rounds"] == exp["cc_rounds"])
    elif raw.get("trace"):
        chk.op(f"trace errors {raw['trace']['errors']}", not raw["trace"]["errors"])
    return ok_passes


def pass_walls(passes):
    return [sum(o["s"] for o in p) for p in passes]


def end_to_end(raw, ok):
    if not ok["passes"]:
        return None
    return {
        "setup_s": raw["setup_s"],
        "wall_s": statistics.median(pass_walls(ok["passes"])),
        "op_p50_s": statistics.median(o["s"] for p in ok["passes"] for o in p),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def per_layer(raw, ok, leaked_mb, steal):
    m = {k: 0.0 for k in PER_LAYER}
    m["tmp.leaked_mb"] = leaked_mb
    m["host.steal_frac"] = steal
    t, t1, cores = raw["trace"], raw["trace_1core"], raw["cores"]
    if not ok["passes"] or not ok["passes_1core"]:
        return None
    untraced = statistics.median(pass_walls(ok["passes"]))
    m["scaling.wall_1core_s"] = statistics.median(pass_walls(ok["passes_1core"]))
    m["scaling.eff"] = m["scaling.wall_1core_s"] / (cores * untraced)
    m["host.scaling_eff"] = raw["host_1core_s"] / (cores * raw["host_s"])
    if "queries" in t:  # suite
        for mod in MODULES:
            c = t["spans"][f"module.{mod}"]
            for f in ("wall_s", "jobs", "task_s", "shuffle_mb"):
                m[f"suite.{mod}.{f}"] = c[f]
        spans = list(t["spans"].values())
        m["suite.idle_s"] = sum(c["idle_s"] for c in spans)
        m["suite.jobs_per_query_p50"] = statistics.median(c["jobs"] for c in t["queries"].values())
        m["queries.derived.edges_build_s"] = t["spans"]["derived.edges"]["wall_s"]
        m["queries.derived.nodes_build_s"] = t["spans"]["derived.nodes"]["wall_s"]
        m["trace.overhead_s"] = t["pass_s"] - untraced
        m["trace.child_coverage"] = sum(c["wall_s"] for c in spans) / t["pass_s"]
    else:
        for name, c in t["spans"].items():
            for f in COST_FIELDS:
                m[f"{name}.{f}"] = c[f]
        for name, c in t1["spans"].items():
            m[f"{name}.wall_1core_s"] = c["wall_s"]
        m["graph.cc.rounds"] = t["cc_rounds"]
        m["trace.overhead_s"] = t["total_s"] - untraced
        m["trace.child_coverage"] = sum(t["spans"][f"lump.{s}"]["wall_s"] for s in LUMP_SPANS) / t["total_s"]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_ENV))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="also write the raw run record to FILE (for perfbench/expected)")
    args = ap.parse_args()

    classes = build.build()
    run_dir = classes.parent / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw, leaked_mb, steal = run_jvm(args, classes, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.record:
        Path(args.record).write_text(json.dumps(raw, indent=1) + "\n")

    chk = Checker(json.loads((BENCH / "expected" / f"{args.workload}.json").read_text()))
    ok = check_ops(raw, chk, args.workload)
    metrics = end_to_end(raw, ok) if not args.trace else per_layer(raw, ok, leaked_mb, steal)
    units = PER_LAYER if args.trace else END_TO_END
    for f in chk.failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not chk.failures and metrics is not None,
        "attempted": chk.attempted,
        "failed": len(chk.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in (metrics or {}).items()},
    }))


if __name__ == "__main__":
    main()

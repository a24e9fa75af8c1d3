"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program (see
build.py); later runs reuse the classes until a source file changes. Each
run builds its index in a fresh work directory under `.bench_build/` and
removes it when done; the generated source tables are kept in
`.bench_build/corpus-<hash>` for later runs, and traced runs keep their
span file in `.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
HEAP = "2g"
# a run must end within this many seconds, its JVM a little earlier
JVM_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit needs these, as in the root build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def validate(line, spec, trace):
    """Errors in a result line against the output contract and the metric
    names and units of BENCHMARK.json; empty when it is valid."""
    try:
        out = json.loads(line)
    except ValueError:
        return ["last line is not JSON"]
    if not isinstance(out, dict):
        return ["result is not an object"]
    errors = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errors.append("keys %s" % sorted(out))
        return errors
    if not isinstance(out["correct"], bool):
        errors.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(out[k], int) or isinstance(out[k], bool) or out[k] < 0:
            errors.append("%s is not a whole number" % k)
    if isinstance(out["attempted"], int) and out["attempted"] < 1:
        errors.append("attempted < 1")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = out["metrics"] if isinstance(out["metrics"], dict) else {}
    if set(got) != set(want):
        errors.append("metrics missing %s, extra %s" % (
            sorted(set(want) - set(got)), sorted(set(got) - set(want))))
    for name, m in got.items():
        if not isinstance(m, dict) or set(m) != {"value", "unit"}:
            errors.append("%s: keys" % name)
        elif not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool):
            errors.append("%s: value is not a number" % name)
        elif name in want and m["unit"] != want[name]:
            errors.append("%s: unit %s != %s" % (name, m["unit"], want[name]))
    return errors


def cpu_times():
    """(total, idle + iowait, steal) CPU ticks from /proc/stat; None where
    there is no /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def cpu_busy(seconds=0.5):
    """Share of all CPUs busy over a short sample; None where there is no
    /proc/stat. Taken while no benchmark process runs, it is the load of
    everything else on this machine."""
    a = cpu_times()
    time.sleep(seconds)
    b = cpu_times()
    if a is None or b is None:
        return None
    return round(1 - (b[1] - a[1]) / max(1, b[0] - a[0]), 3)


def steal_share(a, b):
    """Share of CPU time between two cpu_times() samples that the hypervisor
    gave to other virtual machines: the load of other tenants of a shared
    host, which the busy samples do not see."""
    if a is None or b is None:
        return None
    return round((b[2] - a[2]) / max(1, b[0] - a[0]), 3)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        print("unknown workload %s" % args.workload, file=sys.stderr)
        return 2
    nproc = os.cpu_count()
    started = time.time()
    load_start = os.getloadavg()
    busy_start = cpu_busy()
    times_start = cpu_times()
    try:
        classes, jars, digest = build.build()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD_DIR, "work-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss8m", "-Duser.timezone=UTC",
           "-Duser.language=en",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", repr(args.seconds), "--trace", str(args.trace), "--work", work,
            "--corpus", os.path.join(build.BUILD_DIR, "corpus-" + digest)]
    log_path = os.path.join(work, "jvm.log")
    lines = []
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
            deadline = time.time() + JVM_TIMEOUT_S
            try:
                for line in proc.stdout:
                    if lines:
                        print(lines[-1], flush=True)  # hold the last line back
                    lines.append(line.rstrip("\n"))
                    if time.time() > deadline:
                        break
                proc.wait(timeout=max(1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or not lines:
            with open(log_path) as f:
                trimmed = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(trimmed)[-6000:])
            print("benchmark JVM exited with %s" % proc.returncode, file=sys.stderr)
            return 1
        trace_file = os.path.join(work, "trace.json")
        if os.path.isfile(trace_file):
            traces = os.path.join(build.BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, "trace-%s-%d.json" % (args.workload, args.seed))
            shutil.move(trace_file, dest)
            print("spans: %s" % os.path.relpath(dest, ROOT))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    load_end = os.getloadavg()
    steal = steal_share(times_start, cpu_times())
    busy_end = cpu_busy()
    spark = next((l.split(": ", 1)[1] for l in lines if l.startswith("spark_version: ")), None)
    regime = {
        "nproc": nproc, "heap": HEAP, "spark": spark, "git_commit": git_commit(),
        "source_hash": digest, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in load_end],
        "cpu_busy_start": busy_start, "cpu_busy_end": busy_end, "cpu_steal": steal,
        "wall_s": round(time.time() - started, 1),
        # the load averages include this run's own work, the busy samples
        # (taken while it is not running) only other processes, and the
        # steal share over the run other virtual machines on the host
        "loaded_host": any(b is not None and b > 0.25 for b in (busy_start, busy_end))
        or (steal is not None and steal > 0.05),
    }
    print("regime: " + json.dumps(regime))
    errors = validate(lines[-1], spec, args.trace)
    if errors:
        print("invalid result: %s" % "; ".join(errors), file=sys.stderr)
        return 1
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

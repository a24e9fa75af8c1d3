"""The benchmark's own tests: the output schema check, the spread maths and,
in the JVM, the percentiles, the seeded inputs and the answer check.

    python3 perfbench/selftest.py

Exits non-zero when a check fails.
"""
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402

SPEC = {
    "end_to_end": [{"name": "page_p50_s", "unit": "s"}, {"name": "setup_s", "unit": "s"}],
    "per_layer": [{"name": "query.topk_s", "unit": "s"}],
}


def line(**over):
    out = {"correct": True, "attempted": 3, "failed": 0,
           "metrics": {"page_p50_s": {"value": 1.25, "unit": "s"},
                       "setup_s": {"value": 5.5, "unit": "s"}}}
    out.update(over)
    return json.dumps(out)


def main():
    failures = []

    def expect(what, ok):
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    expect("a valid result passes", run.validate(line(), SPEC, 0) == [])
    expect("a traced result needs the per-layer metrics", run.validate(line(), SPEC, 1) != [])
    expect("a missing metric fails", run.validate(line(metrics={
        "page_p50_s": {"value": 1.0, "unit": "s"}}), SPEC, 0) != [])
    expect("a wrong unit fails", run.validate(line(metrics={
        "page_p50_s": {"value": 1.0, "unit": "ms"}, "setup_s": {"value": 5.5, "unit": "s"}}),
        SPEC, 0) != [])
    expect("a non-numeric value fails", run.validate(line(metrics={
        "page_p50_s": {"value": "1", "unit": "s"}, "setup_s": {"value": 5.5, "unit": "s"}}),
        SPEC, 0) != [])
    expect("an extra top-level key fails", run.validate(
        json.dumps(dict(json.loads(line()), extra=1)), SPEC, 0) != [])
    expect("attempted must be a whole number >= 1",
           run.validate(line(attempted=0), SPEC, 0) != [] and
           run.validate(line(attempted=1.5), SPEC, 0) != [])
    expect("a line that is not JSON fails", run.validate("done", SPEC, 0) != [])

    vals = [float(v) for v in range(1, 11)]
    med, q1, q3, s = spread.spread(vals)
    expect("quartiles of 1..10 are 2.75 and 8.25 around 5.5",
           (q1, med, q3) == (2.75, 5.5, 8.25) and abs(s - 1.0) < 1e-12)
    expect("spread agrees with statistics.quantiles",
           spread.spread([3.0, 1.0, 2.0, 4.0])[3] ==
           (statistics.quantiles([1, 2, 3, 4], n=4)[2] - statistics.quantiles([1, 2, 3, 4], n=4)[0])
           / statistics.median([1, 2, 3, 4]))

    expect("steal share is stolen ticks over all ticks between two samples",
           run.steal_share((1000, 400, 20), (1200, 450, 30)) == 0.05 and
           run.steal_share(None, (1200, 450, 30)) is None)

    expect("a slower time is worse, a higher rate better",
           abs(spread.worse_by(2.0, 2.5, "lower") - 0.25) < 1e-12 and
           abs(spread.worse_by(2.0, 2.5, "higher") + 0.25) < 1e-12)

    classes, jars, _ = build.build()
    proc = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                           "perfbench.SelfTest"], capture_output=True, text=True, timeout=300)
    sys.stdout.write(proc.stdout)
    expect("JVM self-test", proc.returncode == 0)

    print("%d failed" % len(failures) if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

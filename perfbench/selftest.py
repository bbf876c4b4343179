"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # arithmetic + tiny end-to-end runs
    python3 perfbench/selftest.py --quick  # arithmetic only, no Spark

Checks the span self-time arithmetic on a synthetic span tree, the
SQL-metric parser, the keep/drop F1, the near-duplicate twins of the
input generator and that BENCHMARK.json lists the metrics this program
prints, then runs every workload at a
tiny size with ``--trace 0`` and ``--trace 1`` and checks the output
contract: every printed metric name matches ``[A-Za-z0-9_.-]+`` and
has a unit, the last line is the JSON result with exactly the
documented metric names, and the run is correct.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.inputs import near_twin  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.spans import Tracer, covered, self_times  # noqa: E402
from perfbench.status import parse_metric  # noqa: E402
from perfbench.workloads import WORKLOADS, keep_f1  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
TINY_DOCS = {"fresh_crawl": 300, "crash_resume": 300, "igt_classify": 200}
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
BENCH_WORKLOADS = {w["name"] for w in BENCH["workloads"]}


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def test_arithmetic() -> None:
    # job [0, 10): a [1, 4) holding a1 [2, 3); b [3, 6) overlapping a
    ticks = iter([0, 1, 2, 3, 4, 3, 6, 10])
    t = Tracer("t", clock=lambda: next(ticks))
    with t.span("job"):
        with t.span("a"):
            with t.span("a1"):
                pass
        with t.span("b"):
            pass
    times = self_times(t.spans)
    st = {s.name: times[s.span_id] for s in t.spans}
    check(st == {"job": 5.0, "a": 2.0, "a1": 1.0, "b": 3.0},
          f"self times {st}")
    check(covered([(0, 2), (1, 3), (5, 6)]) == 4, "interval union")
    check([s.parent for s in t.spans] == [None, 1, 2, 1], "span parents")

    check(parse_metric("2.6 s") == 2.6, "seconds")
    check(parse_metric("11 ms") == 0.011, "milliseconds")
    check(parse_metric("1,234") == 1234, "counts")
    check(parse_metric("total (min, med, max (stageId: taskId))\n"
                       "122.9 KiB (29.4 KiB, 31.3 KiB, 31.3 KiB "
                       "(stage 0.0: task 1))") == 122.9 * 1024, "size total")

    check(keep_f1({"a": True, "b": False}, {"a": True, "b": False}) == 1.0,
          "f1 exact")
    check(keep_f1({"a": True, "b": True}, {"a": True}) == 2 / 3,
          "f1 missing url")
    check(keep_f1({"a": False}, {"a": False}) == 1.0, "f1 no positives")

    # a near-duplicate twin has the original's word set, other bytes and
    # a url that sorts after the original's
    from lgid_spark import datagen as D

    for i in (1, 17 * 9 + 1, 11 * 3 + 1):  # plain, too-short, spam pages
        base = D.row(i)
        twin = near_twin(i, base)
        check(set(twin["text"].split()) == set(base["text"].split())
              and twin["text"] != base["text"]
              and twin["html"] != base["html"]
              and twin["url"] > base["url"], f"near twin of page {i}")


def test_benchmark_file() -> None:
    """BENCHMARK.json names exactly the metrics and units run.py prints."""
    check({m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END,
          "end_to_end metrics differ from run.END_TO_END")
    check({m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER,
          "per_layer metrics differ from run.PER_LAYER")
    check(BENCH_WORKLOADS <= set(WORKLOADS), "unknown workload")
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    check(max(bounds.values()) == bounds["setup_s"] <= 0.25, "bounds")


def run_workload(name: str, trace: int) -> None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", name,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--docs", str(TINY_DOCS[name])]
    p = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    check(p.returncode == 0 and lines,
          f"{name} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
    for line in lines[:-1]:
        parts = line.split()
        check(len(parts) == 5 and parts[0] == "metric"
              and NAME.match(parts[1]) and parts[3],
              f"{name}: malformed metric line {line!r}")
    result = json.loads(lines[-1])
    check(set(result) == {"correct", "attempted", "failed", "metrics"},
          f"{name}: result keys {sorted(result)}")
    check(result["correct"] is True
          and type(result["failed"]) is type(result["attempted"]) is int
          and result["failed"] == 0 and result["attempted"] >= 1,
          f"{name}: {result}")
    want = PER_LAYER if trace else END_TO_END
    # a workload outside BENCHMARK.json may lack a crawl-only metric
    got = set(result["metrics"])
    check(got == set(want) if name in BENCH_WORKLOADS else got <= set(want),
          f"{name}: metric names {sorted(got)}")
    for k, m in result["metrics"].items():
        check(NAME.match(k) and m["unit"] == want[k]
              and isinstance(m["value"], float), f"{name}: metric {k} {m}")
    print(f"selftest: {name} trace={trace} ok", flush=True)


def main() -> None:
    test_arithmetic()
    test_benchmark_file()
    print("selftest: arithmetic and BENCHMARK.json ok", flush=True)
    if "--quick" in sys.argv:
        return
    for name in WORKLOADS:
        for trace in (0, 1):
            run_workload(name, trace)
    print("selftest: all ok")


if __name__ == "__main__":
    main()

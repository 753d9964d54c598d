"""Checks of the benchmark itself, run from the repository root.

    python3 perfbench/selfcheck.py spread <workload> <runs> [seconds] [first seed]
        Runs the workload untraced on `runs` consecutive seeds (from 1 by
        default) and prints, for each end-to-end metric, its median and its
        spread: the distance between the first and third quartile as a
        share of the median.

    python3 perfbench/selfcheck.py trace <workload> [seconds]
        Runs the workload traced and untraced twice each on seed 1 and
        checks that the traced numbers add up: micro-batch durationMs parts
        sum to triggerExecution within 5% and the batch count is identical
        in both traced runs (streaming workload); each query's build +
        drain time is at least 95% of its wall time and job/stage/task
        counts repeat within and across the traced runs (query_mix).
        Prints the tracing overhead: traced over
        untraced work_wall_s and work_cpu_s.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys

RUN = [sys.executable, "perfbench/run.py"]


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        RUN + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    result["detail"] = json.loads(out[-2])["detail"]
    return result


def spread(workload: str, runs: int, seconds: int, first_seed: int) -> None:
    values: dict[str, list[float]] = {}
    for seed in range(first_seed, first_seed + runs):
        r = run(workload, seed, seconds, 0)
        assert r["correct"] and r["failed"] == 0, r
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        diag = r["detail"]["diag"]
        print(
            seed,
            {k: round(v["value"], 3) for k, v in r["metrics"].items()},
            "units", [round(w, 2) for w in diag["unit_wall_s"]],
            "cpu", [round(c, 1) for c in diag["unit_cpu_s"]],
            "steal", round(sum(diag["unit_steal_s"]), 2),
            "run", round(diag["run_s"], 1),
            flush=True,
        )
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{name:16s} median {statistics.median(vs):10.3f}  spread {(q3 - q1) / statistics.median(vs):.3f}")


def trace(workload: str, seconds: int) -> None:
    # Traced and untraced runs alternate, so a change in host load between
    # them does not read as tracing overhead.
    a, plain_a, b, plain_b = (run(workload, 1, seconds, t) for t in (1, 0, 1, 0))
    ok = all(r["correct"] for r in (a, b, plain_a, plain_b))
    diag = a["detail"]["diag"]
    if workload == "query_mix":
        ok &= diag["build_exec_over_wall"] >= 0.95
        counts = {k: v["value"] for k, v in a["metrics"].items() if k.endswith((".jobs", ".stages", ".tasks"))}
        again = {k: v["value"] for k, v in b["metrics"].items() if k in counts}
        ok &= diag["counts_repeat"] and b["detail"]["diag"]["counts_repeat"] and counts == again
        print("build+exec / wall (min over executions):", round(diag["build_exec_over_wall"], 4))
        print("counts identical across traced runs:", counts == again)
    else:
        ratio = diag["trigger_parts_over_total"]
        ok &= abs(ratio - 1) <= 0.05
        ok &= a["metrics"]["pipeline.batches"] == b["metrics"]["pipeline.batches"]
        print("durationMs parts / triggerExecution:", round(ratio, 4))
        print("pipeline.batches:", a["metrics"]["pipeline.batches"]["value"], b["metrics"]["pipeline.batches"]["value"])
    for name in ("work_wall_s", "work_cpu_s"):
        traced = statistics.mean(r["detail"]["end_to_end"][name] for r in (a, b))
        untraced = statistics.mean(r["detail"]["end_to_end"][name] for r in (plain_a, plain_b))
        print(f"tracing overhead {name}: {traced / untraced - 1:+.1%} ({traced:.3f} traced vs {untraced:.3f})")
    steal = [round(sum(r["detail"]["diag"]["unit_steal_s"]), 2) for r in (a, plain_a, b, plain_b)]
    print("steal s (traced, untraced, traced, untraced):", steal)
    print("OK" if ok else "FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    mode, workload = sys.argv[1], sys.argv[2]
    if mode == "spread":
        spread(
            workload,
            int(sys.argv[3]),
            int(sys.argv[4]) if len(sys.argv) > 4 else 20,
            int(sys.argv[5]) if len(sys.argv) > 5 else 1,
        )
    else:
        trace(workload, int(sys.argv[3]) if len(sys.argv) > 3 else 20)

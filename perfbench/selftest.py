"""Self-test of the benchmark at sf0.001 size with a few ops.

    python3 perfbench/selftest.py

For each workload it runs perfbench/run.py --smoke untraced and traced
and asserts that:

* the process exits 0 and its last stdout line has exactly the keys
  ``correct``, ``attempted``, ``failed``, ``metrics``;
* every ``end_to_end`` (untraced) or ``per_layer`` (traced) metric of
  BENCHMARK.json is printed with its unit, and nothing else;
* every check of the workload ran and none failed.

Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CHECKS = {
    "serve": {"search_ann.hits", "search_ann.recall", "context_for_rag.top_chunk"},
    "curate": {"curate.repeat", "curate.planted_recall", "minhash.jaccard",
               "simhash.hamming", "embedding.cosine"},
}
# the traced run also makes every other workload's calls and the write path
TRACED_CHECKS = set().union(*CHECKS.values()) | {
    "build_chunks.kernel_replay", "ingest.appended_once"}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit "
                             f"{proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["noise"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            res, noise = run(w, trace)
            tag = f"{w} trace={trace}"
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, tag
            assert res["correct"] and res["failed"] == 0, (tag, noise["problems"])
            assert isinstance(res["attempted"], int) and res["attempted"] >= 1, tag
            want = {m["name"]: m["unit"] for m in declared[trace]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (tag, set(got) ^ set(want))
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (tag, k)
            need = TRACED_CHECKS if trace else CHECKS[w]
            missing = need - set(noise["checks"])
            assert not missing, (tag, missing)
            print(f"ok  {tag}: {len(got)} metrics, checks {noise['checks']}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

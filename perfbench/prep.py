"""A run's generated inputs and expected outputs, made in a child
process so that the benchmark driver's peak memory covers only Spark
and the package calls, not pyarrow, NumPy or DuckDB.

    python3 perfbench/prep.py inputs WORKLOAD SEED WORK_DIR
    python3 perfbench/prep.py expect WORKLOAD SEED WORK_DIR

``inputs`` writes the tables and each part's extra files under
``WORK_DIR`` and the set-up facts to ``WORK_DIR/inputs.json``;
``expect`` reads them, runs the DuckDB oracles and writes
``WORK_DIR/expected.pkl``.
"""

from __future__ import annotations

import json
import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from check import Oracle  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402


def inputs(workload: str, seed: int, work: str) -> dict:
    paths = {t: gen.write(gen.build(seed, t),
                          os.path.join(work, "data", f"{t}.parquet"))
             for t in Workload.tables(workload)}
    metas = {p.__name__: p.inputs(seed, work, paths)
             for p in WORKLOADS[workload]}
    return {"paths": paths, "parts": metas}


def expect(workload: str, seed: int, info: dict) -> dict:
    oracle = Oracle(info["paths"])
    try:
        return {p.__name__: p.expected(seed, info["parts"][p.__name__],
                                       oracle)
                for p in WORKLOADS[workload]}
    finally:
        oracle.close()


def main(argv: list[str]) -> int:
    step, workload, seed, work = argv[0], argv[1], int(argv[2]), argv[3]
    info_path = os.path.join(work, "inputs.json")
    if step == "inputs":
        with open(info_path, "w") as f:
            json.dump(inputs(workload, seed, work), f)
    elif step == "expect":
        with open(info_path) as f:
            info = json.load(f)
        with open(os.path.join(work, "expected.pkl"), "wb") as f:
            pickle.dump(expect(workload, seed, info), f)
    else:
        raise SystemExit(f"unknown step {step!r}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

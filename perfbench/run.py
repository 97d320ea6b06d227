#!/usr/bin/env python3
"""Benchmark entry point: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``. See ``perfbench/bench.py``."""

import sys
from pathlib import Path

if __name__ == "__main__":
    # import from the checkout root, so this directory's modules are only
    # reachable as ``perfbench.*``
    sys.path[0] = str(Path(__file__).resolve().parent.parent)
    from perfbench.bench import main

    raise SystemExit(main())

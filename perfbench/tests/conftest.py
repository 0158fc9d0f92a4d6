"""Make the benchmark's modules and the engine importable, the way
``run.py`` does when it starts."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import run  # noqa: E402

run.guard_environment()

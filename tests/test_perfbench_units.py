"""perfbench's unit tests (percentile rule, span self-time, steal share,
query make-up, oracle tokenizer, BM25, build comparison) collected into
the main suite. They live in perfbench/test_perfbench.py and import the
benchmark's modules by their top-level names, so perfbench/ goes on
sys.path first. No Spark."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))

from test_perfbench import *  # noqa: E402,F401,F403

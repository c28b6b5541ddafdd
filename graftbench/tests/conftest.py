"""Puts the benchmark's modules on the import path.  Run from the
repository root: ``python3 -m pytest graftbench/tests -q``."""

from __future__ import annotations

import os
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

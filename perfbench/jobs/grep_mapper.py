#!/usr/bin/env python3
"""Grep mapper: emit ``line\\t1`` for every stdin line holding the needle
token given as the first argument (the paper's distributed grep)."""
import sys

needle = sys.argv[1]
for line in sys.stdin:
    line = line.rstrip("\n")
    if needle in line.split():
        sys.stdout.write(f"{line}\t1\n")

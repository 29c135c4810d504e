#!/usr/bin/env python3
"""Sort mapper: key each stdin line by its first token, value the rest.
The shuffle then sorts the whole input by key (the paper's sort)."""
import sys

for line in sys.stdin:
    key, _, rest = line.rstrip("\n").partition(" ")
    sys.stdout.write(f"{key}\t{rest}\n")

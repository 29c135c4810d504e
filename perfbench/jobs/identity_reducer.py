#!/usr/bin/env python3
"""Identity reducer: copy the key-sorted ``key\\tvalue`` stream to stdout."""
import sys

sys.stdout.writelines(sys.stdin)

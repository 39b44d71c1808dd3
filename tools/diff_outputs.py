#!/usr/bin/env python3
"""Diff two graft.Verify output directories gate by gate.

For every gate (a parquet directory Verify wrote) this compares the two
sides exactly: the Arrow schema including field nullability, the row count,
and the rows in order. Floats compare by their bits, so NaN equals NaN and
-0.0 differs from 0.0. Use it to show that a refactor leaves gate outputs
unchanged: run Verify on the parent checkout and on the change with the same
testdata and the same gate list, then diff the two directories.

Usage: python3 tools/diff_outputs.py PARENT_OUT CHANGE_OUT [NAMES]

NAMES is a comma-separated list of gate names (default: every gate directory
in either side). Prints one line per gate and a summary; exits 1 if any gate
differs or is missing on one side.
"""
import math
import os
import struct
import sys

import pyarrow.parquet as pq


def gates(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def load(out_dir, name):
    # Verify writes one coalesced part per gate; read the directory so any
    # part layout works, in file order.
    return pq.read_table(os.path.join(out_dir, name))


def canon(v):
    # Bit-exact float identity; recurse into lists and structs.
    if isinstance(v, float):
        return ("f", struct.pack(">d", v)) if not math.isnan(v) else ("nan",)
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    return v


def diff(parent, change):
    """None when identical, else a one-line reason."""
    # Schema.equals compares names, types and field nullability.
    if not parent.schema.equals(change.schema, check_metadata=False):
        return f"schema differs:\n  parent: {parent.schema}\n  change: {change.schema}"
    if parent.num_rows != change.num_rows:
        return f"row count {parent.num_rows} vs {change.num_rows}"
    for i, (a, b) in enumerate(zip(parent.to_pylist(), change.to_pylist())):
        if canon(a) != canon(b):
            return f"row {i} differs:\n  parent: {a}\n  change: {b}"
    return None


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    parent_dir, change_dir = argv[1], argv[2]
    names = (argv[3].split(",") if len(argv) == 4
             else sorted(gates(parent_dir) | gates(change_dir)))
    bad = []
    for name in names:
        missing = [d for d in (parent_dir, change_dir)
                   if not os.path.isdir(os.path.join(d, name))]
        if missing:
            reason = "missing in " + ", ".join(missing)
        else:
            reason = diff(load(parent_dir, name), load(change_dir, name))
        if reason is None:
            print(f"same  {name}")
        else:
            print(f"DIFF  {name}: {reason}")
            bad.append(name)
    print(f"== {len(names) - len(bad)} identical, {len(bad)} differ ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

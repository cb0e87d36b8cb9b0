"""Order-insensitive value hashes of registry queries.

Runs each named registry query in one Spark session, collects it, sorts
the rows (columns sorted by name) and prints one JSON line
``{name: [sha1, rows]}``, the sha1 taken over the ``repr`` of the sorted
rows. Run it in two checkouts and diff the two lines: a change that must
keep every value the same prints identical output.

Usage: python scripts/value_hashes.py --sf DIR name [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def value_hash(df) -> list:
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(r[c] for c in cols) for r in df.collect()), key=repr
    )
    return [hashlib.sha1(repr(rows).encode()).hexdigest(), len(rows)]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True, help="parquet fixture directory")
    ap.add_argument("names", nargs="+", help="registry query names")
    args = ap.parse_args()

    from hadoop_coded_wordcount_spark.registry import QUERIES
    from hadoop_coded_wordcount_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    out = {name: value_hash(QUERIES[name](spark, args.sf)) for name in args.names}
    print(json.dumps(out, sort_keys=True), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

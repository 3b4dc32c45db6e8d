"""Compute ``expected_registry.json``: the DuckDB oracle's canonical hash
of every registry-workload entry over the committed fixture.

Run once from the repository root, and again only when the fixture or an
oracle changes::

    python3 perfbench/make_expected.py            # oracle hashes only
    python3 perfbench/make_expected.py --spark    # also compare Spark's

``--spark`` runs each entry on a local Spark session and prints entries
whose hash differs from the oracle's (the file is written either way).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from inputs import FIXTURE  # noqa: E402
from registry import EXPECTED_FILE, HEADLINE, LEG_ORACLES, entry_fns, frame_hash  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def oracle_hashes() -> dict:
    import duckdb

    from kinesis_iterator_spark.queries import ORACLE, load_all

    load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')"
        )
    out = {}
    for name in HEADLINE:
        if name in LEG_ORACLES:
            suite, wrap = LEG_ORACLES[name]
            sql = wrap.format(sql=ORACLE[suite])
        else:
            sql = ORACLE[name]
        out[name] = frame_hash(con.execute(sql).df())
    return out


def main() -> int:
    expected = oracle_hashes()
    with open(EXPECTED_FILE, "w") as f:
        json.dump(
            {"fixture": "perfbench/data/sf0.01", "source": "duckdb oracle", "entries": expected},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(f"wrote {len(expected)} entries to {EXPECTED_FILE}")
    if "--spark" not in sys.argv:
        return 0
    import tempfile

    from harness import start_spark, stop_spark
    from kinesis_iterator_spark.queries import release_persists

    spark, _ = start_spark(tempfile.mkdtemp(prefix="perfbench-expected-"))
    bad = 0
    for name, fn in entry_fns().items():
        got = frame_hash(fn(spark, FIXTURE).toPandas())
        release_persists()
        if got != expected[name]:
            bad += 1
            print(f"MISMATCH {name}: spark={got} oracle={expected[name]}")
    stop_spark(spark)
    print(f"{len(HEADLINE) - bad}/{len(HEADLINE)} entries match the oracle")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

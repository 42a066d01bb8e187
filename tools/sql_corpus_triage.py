"""Triage runner for the SQL logic-corpus replay.

Replays every corpus file and prints each DIVERGENCE with full detail
so the human (or the next builder round) can classify it into
splitserve_spark/sql_corpus_ledger.py with a reasoned entry.

Usage: python tools/sql_corpus_triage.py [file.sql ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from splitserve_spark import sql_corpus
from splitserve_spark.session import get_session


def main() -> None:
    files = sys.argv[1:] or sql_corpus.corpus_files()
    spark = get_session("sql-corpus-triage", shuffle_partitions=4)
    totals = {"match": 0, "both_error": 0, "spark_only_ok": 0, "ledgered": 0,
              "DIVERGENCE": 0}
    for fname in files:
        results = sql_corpus.replay_file(spark, fname)
        for r in results:
            k = "ledgered" if r.outcome.startswith("ledgered") else r.outcome
            totals[k] = totals.get(k, 0) + 1
            if r.outcome == "DIVERGENCE":
                print(f"\n=== {r.file} ===")
                print("STMT:", " ".join(r.stmt.split())[:500])
                print("  ->", r.detail[:700])
    print("\nTOTALS:", totals)


if __name__ == "__main__":
    main()

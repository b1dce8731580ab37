"""Remake the stored DuckDB results of the slow corpus_prep oracles.

    python3 perfbench/oracles.py

Generates the fixed corpus, runs each oracle in ``corpus_prep.STORED`` on
DuckDB over its files, and writes ``perfbench/oracle_results/<query>.parquet``
with the SHA-256 of the oracle SQL and of every input file in the parquet
metadata.  ``corpus_prep`` refuses a stored result whose key does not match
the SQL and files of the run, so a changed oracle or corpus must be stored
again with this command before it can pass.
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from common import WORK  # noqa: E402
from corpus_prep import STORED, duck, generate_corpus, input_identity, write_stored  # noqa: E402


def main() -> int:
    from qcfractal_spark.queries import REGISTRY

    corpus = WORK / "oracles" / "corpus"
    shutil.rmtree(corpus, ignore_errors=True)
    generate_corpus(corpus)
    identity = input_identity(corpus)
    con = duck(corpus)
    for name in STORED:
        sql = REGISTRY[name][1]
        t0 = time.perf_counter()
        table = con.execute(sql).fetch_arrow_table()
        write_stored(name, sql, identity, table)
        print(f"{name}: {table.num_rows} rows in {time.perf_counter() - t0:.1f} s")
    shutil.rmtree(WORK / "oracles", ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

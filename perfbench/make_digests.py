"""Write query_digests.json: the DuckDB oracle result of every mix query on
the generated tables, in the canonical form of tests/test_correctness.py.

Run from the repository root: ``python3 perfbench/make_digests.py``. Every
``query_mix`` run compares Spark's result of each query with these digests
in its warm-up pass; a query that does not match does not belong in the mix.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path.cwd()))

import query_mix as QM  # noqa: E402


def main() -> int:
    import duckdb

    from dwca_parquet_spark import queries as Q

    work = Path.cwd() / ".perfbench_work" / "digests"
    shutil.rmtree(work, ignore_errors=True)
    data = QM.make_tables(work)
    con = duckdb.connect()
    for p in sorted(data.glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    out = {"data_seed": QM.DATA_SEED, "data_scale": QM.DATA_SCALE, "queries": {}}
    for name in QM.MIX:
        rel = con.sql(Q.ORACLES[name])
        rows = rel.fetchall()
        out["queries"][name] = {
            "rows": len(rows),
            "sha256": QM.canon_digest(list(rel.columns), rows),
        }
        print(name, len(rows))
    QM.DIGESTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Regenerate perfbench/digests.json: run the DuckDB oracle SQL of every
timed suite query over the committed corpus and store each result's row
count and digest (the normalisation of tools/oracle_diff.py).

    python3 perfbench/make_digests.py

Run it after `run.py` has built the benchmark once, and only when the
timed query list or the corpus changes."""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402

import run  # noqa: E402
from pb import digest  # noqa: E402


def main():
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = Path(tmp, "oracle.json")
        subprocess.run(["java", *run.ADD_OPENS, "-cp", cp, "perfbench.Main",
                        "--oracle-sql", str(out)], check=True)
        oracle = json.loads(out.read_text())
    con = duckdb.connect()
    for t in sorted(p.stem for p in run.CORPUS.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.CORPUS}/{t}.parquet')")
    digests = {}
    for name, sql in sorted(oracle.items()):
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        digests[name] = {"rows": len(rows), "sha256": digest.digest(cols, rows)}
        print(f"{name}: {len(rows)} rows")
    run.DIGESTS.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()

"""Record the batch slate's output digests on the benchmark's generated
tables, cross-checking each against the DuckDB oracle where the suite
has one. Run from a checkout's root after changing the slate or the
generator:

    python3 perfbench/record_digests.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile


def main() -> int:
    root = os.getcwd()
    sys.path.insert(0, root)
    import duckdb

    from perfbench import batch, harness
    from railgun_spark import suite

    work = tempfile.mkdtemp(prefix="digests-", dir=root)
    try:
        harness.engine_env(root, work)
        tables = os.path.join(work, "tables")
        harness.write_inputs(tables, batch.TABLES)
        spark, _ = harness.start_session(None)
        con = duckdb.connect()
        for f in sorted(os.listdir(tables)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tables}/{f}'")
        registry = suite.all_queries()
        oracles = {**suite.oracle_sql(),
                   **{n: s.oracle for n, s in suite.extra_specs().items() if s.oracle}}
        out, bad = {}, 0
        for name in batch.SLATE:
            df = registry[name](spark, tables)
            got = batch.digest(df.collect(), df.columns)
            oracle = "none"
            if name in oracles:
                pdf = con.execute(oracles[name]).df()
                want = batch.digest(pdf.itertuples(index=False, name=None), list(pdf.columns))
                oracle = "match" if want == got else f"MISMATCH {want}"
                bad += want != got
            print(f"{name}: {got} oracle={oracle}", file=sys.stderr)
            out[name] = got
        with open(batch.DIGESTS, "w") as f:
            json.dump({"data_seed": harness.DATA_SEED, "scale": harness.DATA_SCALE,
                       "docs_scale": harness.DOCS_SCALE,
                       "queries": out}, f, indent=2, sort_keys=True)
            f.write("\n")
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

"""Driver-style correctness check: run every queries() entry at sf0.01 and
compare against oracle_sql() via DuckDB (row count + schema + order-
insensitive value comparison).  Mirrors what the driver records in
CORRECTNESS_r{N}.json so mismatches surface before the round gate.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
ONLY = sys.argv[2].split(',') if len(sys.argv) > 2 else None

TABLES = ('region nation customer supplier part orders lineitem events '
          'documents embeddings').split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        try:
            df[c] = pd.to_numeric(df[c])
        except (ValueError, TypeError):
            pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    import __spark_entry__ as entrymod
    from dragnet_spark.plans.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in ONLY or () if n not in qs]
    if unknown:
        print('unknown query names: %s' % ', '.join(unknown))
        return 2
    spark = get_spark('oracle-check', cores=8,
                      extra_conf={'spark.sql.shuffle.partitions': '16'})
    con = duckdb.connect()
    for t in TABLES:
        path = f'{SF_DIR}/{t}.parquet'
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, 'spark error: %r' % e))
            print('%-28s SPARK-ERROR %r' % (name, e))
            continue
        elapsed = time.time() - t0
        if name not in oracles:
            print('%-28s rows-only   %6d rows  %5.1fs' %
                  (name, len(sdf), elapsed))
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, 'duckdb error: %r' % e))
            print('%-28s DUCK-ERROR  %r' % (name, e))
            continue
        s, o = normalize(sdf), normalize(odf)
        status = 'OK'
        if list(s.columns) != list(o.columns):
            status = 'COL-MISMATCH %s vs %s' % (list(s.columns),
                                                list(o.columns))
        elif len(s) != len(o):
            status = 'ROWS %d vs %d' % (len(s), len(o))
        else:
            try:
                pd.testing.assert_frame_equal(
                    s, o, check_dtype=False, check_exact=False, rtol=1e-9,
                    atol=1e-12)
            except AssertionError as e:
                status = 'VALUES: %s' % str(e).split('\n')[0]
                # show a sample diff
                neq = (s != o) & ~(s.isna() & o.isna())
                bad = neq.any(axis=1)
                if bad.any():
                    i = bad.idxmax()
                    status += ' | spark=%s duck=%s' % (
                        s.loc[i].to_dict(), o.loc[i].to_dict())
        if status != 'OK':
            failures.append((name, status))
        print('%-28s %-10s  %6d rows  %5.1fs' %
              (name, status if status == 'OK' else 'FAIL', len(sdf), elapsed))
        if status != 'OK':
            print('    ', status[:500])
    spark.stop()
    print('\n%d failures' % len(failures))
    return 1 if failures else 0


if __name__ == '__main__':
    sys.exit(main())

"""Driver-contract invariants that don't need Spark: the validation
harness checks only the FIRST 50 ``queries()`` entries (VERDICT r04
#2), every oracle must belong to a query, and every oracle must at
least PARSE in DuckDB against the real table schemas -- dialect typos
should fail here, not in the round gate."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get('SPARK_GRAFT_TEST_SF_DIR', '/root/testdata/sf0.001')
TABLES = ('region nation customer supplier part orders lineitem events '
          'documents embeddings').split()


@pytest.fixture(scope='module')
def entry():
    import __spark_entry__ as entrymod
    return entrymod


def test_query_surface_fits_the_driver_window(entry):
    qs = entry.queries()
    assert len(qs) <= 50, (
        'the driver validates only the first 50 queries() entries; '
        '%d are registered -- merge variants into tagged unions '
        '(VERDICT r04 #2)' % len(qs))


def test_every_oracle_has_a_query(entry):
    qs, oracles = entry.queries(), entry.oracle_sql()
    orphans = [k for k in oracles if k not in qs]
    assert not orphans, 'oracles without a queries() entry: %r' % orphans


def test_every_oracle_parses_and_plans_in_duckdb(entry):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, '%s.parquet' % t)
        if os.path.exists(path):
            con.execute("CREATE VIEW %s AS SELECT * FROM "
                        "read_parquet('%s') LIMIT 0" % (t, path))
    bad = {}
    for name, sql in entry.oracle_sql().items():
        if 'read_blob(' in sql or 'read_text(' in sql:
            continue  # reads external fixture files, not the views
        try:
            con.execute('EXPLAIN ' + sql)
        except Exception as e:
            bad[name] = str(e).splitlines()[0][:200]
    assert not bad, bad


def test_check_oracles_rejects_unknown_subset_name():
    # a stale or mistyped subset name must fail the run before any
    # Spark session starts, not be skipped into "0 failures"
    import subprocess
    script = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), 'scripts', 'check_oracles.py')
    proc = subprocess.run(
        [sys.executable, script, SF_DIR, 'no_such_query,dedup_exact'],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0, proc.stdout
    assert 'no_such_query' in proc.stdout, proc.stdout
    assert 'failures' not in proc.stdout, proc.stdout

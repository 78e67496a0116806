from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s4_spark.catalog import TABLES
from s4_spark.session import get_spark

SMOKE_SF_DIR = "/root/testdata/sf0.001"
SF_DIR = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="s4_spark_tests", cpus=8)
    yield s


@pytest.fixture()
def sock_dir():
    """A private directory for one test's socket paths. A fixed path in
    the shared temp dir lets two concurrent runs unlink and rebind each
    other's one-shot servers: the loser's reader is then refused, the
    connect-mode source treats that as "no producer", and the stream
    silently stays empty. mkdtemp keeps the path well under the 108-byte
    unix socket limit that a deep pytest tmp_path can exceed, and the
    directory is removed with everything in it when the test ends."""
    d = tempfile.mkdtemp(prefix="s4_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's compare: columns sorted by name, rows sorted,
    floats rounded to 6 dp, timestamps truncated to µs."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.floor("us")
        elif s.dtype == object:
            s = s.map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
            s = s.map(
                lambda v: tuple(round(float(x), 6) for x in v)
                if isinstance(v, tuple) and v and isinstance(v[0], float)
                else v
            )
        out[c] = s
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), key=lambda s: s.astype(str)).reset_index(
        drop=True
    )
    return ndf


def assert_oracle_match(spark_df, duck_con, oracle_sql: str, name: str = "?"):
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.sql(oracle_sql).df())
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}"
    )
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    mism = (got.astype(str) != want.astype(str)).any(axis=1)
    if mism.any():
        idx = mism[mism].index[:5]
        raise AssertionError(
            f"{name}: {int(mism.sum())} mismatched rows, first few:\n"
            f"spark:\n{got.loc[idx]}\noracle:\n{want.loc[idx]}"
        )


def session_snapshot(spark) -> tuple[dict, dict]:
    """What an entry must leave as it found it: the session's explicitly
    set SQL confs and the live Hadoop conf's ``fs.s3a.*`` keys. Each map
    crosses py4j as one JSON string — converting it entry by entry costs
    ~0.1 s a snapshot, about a minute over the oracle sweep."""
    mapper = spark._jvm.com.fasterxml.jackson.databind.ObjectMapper()
    hadoop = spark._jsc.hadoopConfiguration().getPropsWithPrefix("fs.s3a.")
    return (
        json.loads(mapper.writeValueAsString(spark.conf._jconf.getAllAsJava())),
        json.loads(mapper.writeValueAsString(hadoop)),
    )


def assert_no_leaks(spark, name, before):
    """Nothing ``name`` ran is left behind: no streaming query running,
    no memory-sink view registered, and no SQL conf or ``fs.s3a.*``
    Hadoop key changed since ``before`` (a :func:`session_snapshot`
    taken before it ran)."""
    assert spark.streams.active == [], f"{name} left a streaming query running"
    left = [t.name for t in spark.catalog.listTables(pattern="s4_mem_*")]
    assert not left, f"{name} left memory-sink views {left}"
    after = session_snapshot(spark)
    for kind, b, a in zip(("SQL conf", "Hadoop conf fs.s3a."), before, after):
        changed = {
            k: (b.get(k), a.get(k)) for k in b.keys() | a.keys() if b.get(k) != a.get(k)
        }
        assert not changed, f"{name} changed {kind} keys (before, after): {changed}"

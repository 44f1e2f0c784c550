import datetime as dt
import decimal
import os

import pytest

import checks
from tools.check_correctness import table_hash


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from meta_frame_spark.session import get_session

    s = get_session(app_name="perfbench-tests", extra_conf={
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
    })
    yield s
    s.stop()


def _sample(spark):
    rows = [
        (1, 2, 0.1 + 0.2, float("nan"), "é x", dt.datetime(2024, 1, 1, 12, 30, 5, 123456),
         dt.date(2001, 8, 1), [1.5, None], ["a", "b"], {"k": 3}, (7, "s"),
         decimal.Decimal("12.34"), True, 2.5),
        (None, -5, 2.0, None, None, None, None, None, [], None, None, None, None, None),
        (3, 0, -1e-9, 1e12, "", dt.datetime(1995, 1, 1), dt.date(1970, 1, 1), [],
         [None], {}, (None, None), decimal.Decimal("-0.01"), False, 1e30),
    ]
    schema = (
        "a long, b int, c double, d double, s string, ts timestamp, d8 date, "
        "xs array<double>, ss array<string>, m map<string,long>, "
        "st struct<i:int,t:string>, dec decimal(10,2), flag boolean, f float"
    )
    return spark.createDataFrame(rows, schema)


def test_readback_hash_agrees_with_check_correctness(spark, tmp_path):
    from meta_frame_spark.sources.sinks import save_data

    df = _sample(spark)
    path = str(tmp_path / "out")
    save_data(df.repartition(2), path, fmt="parquet")
    cols, n, h = checks.output_hash(path)
    assert sorted(cols) == sorted(df.columns)
    assert (n, h) == table_hash([tuple(r) for r in df.collect()], df.columns)


def test_wrong_oracle_hash_and_raise_are_failures(spark, tmp_path):
    from meta_frame_spark.sources.sinks import save_data

    df = spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")
    path = str(tmp_path / "ok")
    save_data(df, path, fmt="parquet")
    n, h = table_hash([tuple(r) for r in df.collect()], df.columns)
    good = {"cols": ["k", "v"], "rows": n, "hash": h}
    oracle = {"good": good, "bad": dict(good, hash="0" * 16)}
    results = [
        ("p0:good", "good", path),
        ("p0:bad", "bad", path),
        ("p1:good", "good", path),
        ("p1:missing", "good", str(tmp_path / "never-written")),
    ]
    failures = checks.score(results, oracle, errors={"p1:good": "Traceback ..."})
    assert set(failures) == {"p0:bad", "p1:good", "p1:missing"}
    assert failures["p1:good"] == "raised"
    assert len(failures) / len(results) == 0.75  # failed_share


def test_oracle_cache_recomputes_when_sql_or_duckdb_changes(tmp_path):
    import json

    import pyarrow as pa
    import pyarrow.parquet as papq

    papq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    cache_file = str(tmp_path / "oracle.json")
    first = checks.oracle_hashes(cache_file, str(tmp_path), {"p": "SELECT k FROM t"})
    assert first["p"]["rows"] == 3
    assert checks.cached_oracle(cache_file, {"p": "SELECT k FROM t"}) == first

    # an edited oracle twin is not served from the cache
    edited = {"p": "SELECT k FROM t WHERE k > 1"}
    assert checks.cached_oracle(cache_file, edited) == {}
    second = checks.oracle_hashes(cache_file, str(tmp_path), edited)
    assert second["p"]["rows"] == 2
    assert checks.cached_oracle(cache_file, edited) == second

    # nor is an entry computed by another DuckDB version
    with open(cache_file) as f:
        cache = json.load(f)
    cache["p"]["key"]["duckdb"] = "0.0.0"
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    assert checks.cached_oracle(cache_file, edited) == {}
    assert checks.oracle_hashes(cache_file, str(tmp_path), edited) == second

"""SQL text surface: MERGE INTO / UPDATE / DELETE / INSERT / SELECT with
time travel, routed onto the table API verbs by LakeSQL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_services_spark.lake.sql import LakeSQL
from data_services_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("lsn", T.LongType(), True),
    ]
)


@pytest.fixture()
def lsql(spark, tmp_path):
    LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, ["k"], bucket_count=4,
        props={"merge_keys": ["k"], "order_cols": ["lsn"]},
    ).append(
        spark.createDataFrame(
            [("a", "x", 1, 1), ("b", "y", 2, 2), ("c", "z", 3, 3)], SCHEMA
        )
    )
    return LakeSQL(spark, str(tmp_path))


def _state(lsql):
    return {
        r["k"]: (r["v"], r["n"])
        for r in lsql.sql("SELECT * FROM lake.t").collect()
    }


def test_select_and_time_travel(lsql):
    assert _state(lsql) == {"a": ("x", 1), "b": ("y", 2), "c": ("z", 3)}
    out = lsql.sql(
        "SELECT k, n * 10 AS n10 FROM lake.t WHERE n >= 2 ORDER BY k"
    ).collect()
    assert [(r["k"], r["n10"]) for r in out] == [("b", 20), ("c", 30)]
    # VERSION AS OF: snapshot 0 is the empty created table
    assert lsql.sql("SELECT * FROM lake.t VERSION AS OF 0").count() == 0


def test_update_bare_columns_mean_current_row(lsql):
    res = lsql.sql("UPDATE lake.t SET n = n + 100, v = upper(v) WHERE n >= 2")
    assert res["updated"] == 2
    assert _state(lsql) == {"a": ("x", 1), "b": ("Y", 102), "c": ("Z", 103)}


def test_delete_where(lsql):
    res = lsql.sql("DELETE FROM lake.t WHERE n = 2")
    assert res["deleted"] == 1
    assert set(_state(lsql)) == {"a", "c"}


def test_insert_values_and_select(lsql):
    lsql.sql("INSERT INTO lake.t VALUES ('d', 'w', 4, 4), ('e', 'q', 5, 5)")
    assert set(_state(lsql)) == {"a", "b", "c", "d", "e"}
    lsql.sql(
        "INSERT INTO lake.t SELECT concat(k, '2'), v, n + 10, lsn + 10 "
        "FROM lake.t WHERE k = 'a'"
    )
    assert _state(lsql)["a2"] == ("x", 11)


def test_merge_full_clause_set(spark, lsql):
    spark.createDataFrame(
        [("b", "yy", 20, 9), ("c", "drop", 0, 9), ("d", "new", 4, 9)], SCHEMA
    ).createOrReplaceTempView("changes")
    res = lsql.sql(
        """
        MERGE INTO lake.t AS tgt USING changes AS src
        ON src.k = tgt.k
        WHEN MATCHED AND src.v = 'drop' THEN DELETE
        WHEN MATCHED THEN UPDATE SET n = src.n + tgt.n, v = src.v
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert res["updated"] == 1 and res["deleted"] == 1 and res["inserted"] == 1
    assert _state(lsql) == {"a": ("x", 1), "b": ("yy", 22), "d": ("new", 4)}


def test_merge_subquery_source_update_only(lsql):
    res = lsql.sql(
        """
        MERGE INTO lake.t t USING (
            SELECT k, v, n, lsn + 100 AS lsn FROM lake.t WHERE k = 'a'
        ) s ON s.k = t.k
        WHEN MATCHED THEN UPDATE SET n = t.n * 1000
        """
    )
    assert res["updated"] == 1 and res["inserted"] == 0
    assert _state(lsql)["a"] == ("x", 1000)


def test_strict_failures(lsql):
    with pytest.raises(ValueError, match="merge keys"):
        lsql.sql(
            "MERGE INTO lake.t t USING (SELECT * FROM lake.t) s "
            "ON s.n = t.n WHEN MATCHED THEN UPDATE SET *"
        )
    with pytest.raises(ValueError, match="unsupported statement"):
        lsql.sql("TRUNCATE TABLE lake.t")
    with pytest.raises(ValueError, match="UPDATE shape"):
        lsql.sql("UPDATE lake.t SET n = 1")  # no WHERE
    with pytest.raises(ValueError, match="arity"):
        lsql.sql("INSERT INTO lake.t VALUES ('x', 1)")


def test_merge_conditional_delete_only_leaves_other_matches_untouched(
    spark, lsql
):
    """A MERGE whose only matched clause is ``WHEN MATCHED AND c THEN
    DELETE`` deletes the rows meeting ``c``; every other matched row is a
    true no-op — payload AND lsn stamp unchanged (SQL semantics)."""
    def rows():
        return {
            r["k"]: (r["v"], r["n"], r["lsn"])
            for r in lsql.sql("SELECT * FROM lake.t").collect()
        }

    before = rows()
    spark.createDataFrame(
        [("a", "drop", 0, 50), ("b", "keep", 99, 50)], SCHEMA
    ).createOrReplaceTempView("dels")
    res = lsql.sql(
        """
        MERGE INTO lake.t t USING dels s ON s.k = t.k
        WHEN MATCHED AND s.v = 'drop' THEN DELETE
        """
    )
    assert res["deleted"] == 1 and res["updated"] == 0
    assert res["inserted"] == 0
    assert rows() == {"b": before["b"], "c": before["c"]}

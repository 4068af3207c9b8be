"""set-family, keep/drop, switch routing unit tests (Beholder per-command
test style — feed a message, assert the field map)."""

from __future__ import annotations

from pyspark.sql import functions as F

from beholder_spark.operators import fields, route
from beholder_spark.sources import from_timer, union_sources


def _one(spark, **cols):
    return spark.createDataFrame([tuple(cols.values())], list(cols.keys()))


def test_set_template(spark):
    df = _one(spark, a="x", b="y")
    out = fields.set_template(df, "f", "%s-%s", "a", "b").collect()[0]
    assert out.f == "x-y"


def test_set_replace(spark):
    df = _one(spark, t="a1b22c")
    assert fields.set_replace(df, "t", r"\d+", "#").collect()[0].t == "a#b#c"


def test_set_host_from_url(spark):
    df = _one(spark, url="https://sub.example.com/p/x?q=1")
    assert fields.set_host_from_url(df).collect()[0].host == "sub.example.com"


def test_set_basename(spark):
    df = _one(spark, p="/var/log/app/we ird$.log")
    assert fields.set_basename(df, "b", "p").collect()[0].b == "we_ird_.log"


def test_severity_names(spark):
    df = spark.createDataFrame([(str(i),) for i in range(9)], ["sev"])
    out = {r.sev: r.name for r in fields.set_severity_name(df, "name", "sev").collect()}
    assert out["0"] == "emerg" and out["7"] == "debug" and out["8"] is None


def test_set_json_and_keep_unset(spark):
    df = _one(spark, a=1, b="z", c=2.0)
    out = fields.set_json(df, "js", "a", "b")
    assert out.collect()[0].js == '{"a":1,"b":"z"}'
    assert fields.keep(out, "a", "js").columns == ["a", "js"]
    assert "b" not in fields.unset(out, "b").columns


def test_switch_first_match_wins(spark):
    df = spark.createDataFrame([("aa",), ("ab",), ("zz",)], ["v"])
    out = route.switch(
        df,
        [
            (F.col("v").startswith("a"), "first"),
            (F.col("v").endswith("b"), "second"),  # 'ab' matches both → first wins
        ],
    )
    got = {r.v: r.route for r in out.collect()}
    assert got == {"aa": "first", "ab": "first", "zz": route.UNMATCHED}


def test_switch_regexp_and_capture(spark):
    df = spark.createDataFrame([("err: disk full",), ("ok",)], ["msg"])
    out = route.switch(df, [(F.col("msg").rlike("^err"), "errors")])
    out = route.case_capture(out, "msg", r"^err: (\w+)", {"what": 1}, route_value="errors")
    rows = {r.msg: r for r in out.collect()}
    assert rows["err: disk full"].route == "errors"
    assert rows["err: disk full"].what == "disk"
    assert rows["ok"].route == route.UNMATCHED
    assert rows["ok"].what is None


def test_union_sources_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "only_a"])
    b = spark.createDataFrame([(2,)], ["id"])
    out = union_sources(a, b)
    rows = sorted(out.collect(), key=lambda r: r.id)
    assert rows[0].only_a == "x" and rows[1].only_a is None


def test_from_timer(spark):
    out = from_timer(spark, 5)
    assert out.count() == 5
    assert out.first().payload == "beholder timer"

"""tools/: the sweep replica rule, one sweep run, tree-relative imports,
and get_spark reading $SPARK_GRAFT_CPUS when called (tools set it per run)."""

from __future__ import annotations

import re
import types
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from healthcare_api_spark import session
from healthcare_api_spark.tables import TABLE_NAMES, load_table
from tests.conftest import SF_DIR
from tools.sweep import replicate, sweep

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def rep2(spark, tmp_path_factory):
    out = replicate(spark, SF_DIR, 2, str(tmp_path_factory.mktemp("x2")))
    return {
        n: (load_table(spark, SF_DIR, n), spark.read.parquet(f"{out}/{n}.parquet"))
        for n in TABLE_NAMES
    }


def test_replica_doubles_rows_and_keeps_region_nation(rep2):
    for name, (base, copy) in rep2.items():
        if name in ("region", "nation"):
            assert sorted(copy.collect()) == sorted(base.collect()), name
        else:
            assert copy.count() == 2 * base.count(), name


def test_replica_key_ranges_disjoint(rep2):
    for name, (base, copy) in rep2.items():
        for f in base.schema.fields:
            if f.dataType.simpleString() != "bigint" or not f.name.endswith(("key", "_id")):
                continue
            n = base.select(f.name).distinct().count()
            assert copy.select(f.name).distinct().count() == 2 * n, (name, f.name)
            # replica 0 keeps the original keys, so replica 1's are all new
            assert copy.select(f.name).intersect(base.select(f.name)).count() == n, (name, f.name)


def test_replica_foreign_keys_stay_inside_replica(rep2):
    def joins(tabs):
        o, c, li = tabs["orders"], tabs["customer"], tabs["lineitem"]
        return (
            o.join(c, o.o_custkey == c.c_custkey).count(),
            li.join(o, li.l_orderkey == o.o_orderkey).count(),
        )

    base = joins({n: t[0] for n, t in rep2.items()})
    copy = joins({n: t[1] for n, t in rep2.items()})
    assert min(base) > 0
    assert copy == (2 * base[0], 2 * base[1])


def test_replica_text_shares_no_token(rep2):
    def toks(df):
        return df.select(F.explode(F.split("text", r"\s+")).alias("t")).distinct()

    base, copy = rep2["documents"]
    r1 = copy.join(base.select("doc_id"), "doc_id", "left_anti")
    assert r1.count() == base.count()
    assert toks(r1).intersect(toks(base)).count() == 0


def test_sweep_reports_walls_and_jobs(spark):
    (row,) = list(sweep(spark, ["q6_forecast_revenue"], [1], SF_DIR))
    assert (row["gate"], row["rep"]) == ("q6_forecast_revenue", 1)
    assert len(row["walls"]) == 4 and len(row["jobs"]) == 4
    assert all(j > 0 for j in row["jobs"])
    assert len(row["last_pass_jobs"]) == row["jobs"][-1]
    line = re.compile(r"job=\s*\d+ ms=\s*-?\d+ tasks=\s*\d+  ")
    assert all(line.match(j) for j in row["last_pass_jobs"])


def test_tools_find_the_repo_from_their_own_path():
    for path in sorted((REPO / "tools").glob("*.py")):
        text = path.read_text()
        assert str(REPO) not in text, path.name
        assert not re.search(r"sys\.path\.insert\(0, [\"']", text), path.name


def test_get_spark_reads_cpus_when_called(monkeypatch):
    conf = {}

    class Builder:
        def appName(self, _):
            return self

        def master(self, m):
            conf["master"] = m
            return self

        def config(self, k, v):
            conf[k] = v
            return self

        def getOrCreate(self):
            return conf

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"

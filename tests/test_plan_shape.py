"""Plan-shape guards for the KG path: the only Python crossings are the
parse and validate UDF nodes, and no plan reads a driver-built Python
RDD (config tables are JVM local relations)."""

import pytest
from pyspark.sql import DataFrameWriter

from pywdcollections_spark.config import demo_config
from pywdcollections_spark.plans.checkpoint import run_with_checkpoint
from pywdcollections_spark.plans.pipeline import build_kg
from pywdcollections_spark.session import local_table
from pywdcollections_spark.testkit import spark_tables as TK

N = 60
SEED = 5


@pytest.fixture(scope="module")
def parquet_inputs(spark, tmp_path_factory):
    # inputs on disk, as in production: a createDataFrame fixture would
    # itself show up as an ExistingRDD scan
    base = str(tmp_path_factory.mktemp("plan_inputs"))
    TK.pages_df(spark, N, SEED, head_templates=10).write.parquet(f"{base}/pages")
    pages = spark.read.schema(TK.PAGES_SCHEMA).parquet(f"{base}/pages")
    return pages, TK.read_dim_parquet(spark, TK.write_dim_parquet(spark, N, SEED, base))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _python_nodes(plan: str) -> set[str]:
    # a cached subtree is printed at every reference to it; its node
    # text (expression ids included) is the same each time
    return {ln[ln.index("ArrowEvalPython"):] for ln in plan.splitlines()
            if "ArrowEvalPython" in ln}


def test_triples_plan_has_two_python_crossings(spark, parquet_inputs):
    pages, dims = parquet_inputs
    out = build_kg(spark, pages, demo_config(), dims, persist_validated=False)
    nodes = _python_nodes(_plan(out["triples"]))
    assert len(nodes) == 2, nodes
    assert sorted("extract_and_parse_udf" in n for n in nodes) == [False, True]
    [val] = [n for n in nodes if "extract_and_parse_udf" not in n]
    assert all(u in val for u in ("coord_parse_udf", "url_normalize_udf",
                                  "int_parse_ok_udf"))
    for key in ("staged", "validated", "triples", "rejects", "lineage"):
        assert "ExistingRDD" not in _plan(out[key]), key


def test_checkpoint_writes_read_no_python_rdd(spark, parquet_inputs,
                                              tmp_path, monkeypatch):
    pages, dims = parquet_inputs
    plans = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append((path, _plan(self._df)))
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    run_with_checkpoint(spark, pages, demo_config(), dims, str(tmp_path),
                        n_buckets=4, bucket_groups=1)
    assert [p.rsplit("/", 1)[-1] for p, _ in plans] == ["triples", "rejects",
                                                        "lineage"]
    for path, plan in plans:
        assert "ExistingRDD" not in plan, path


def test_local_table_is_a_local_relation(spark):
    df = local_table(spark, [{"a": "it's \\ x", "b": [1, 2]}, ("z", None)],
                     "a string, b array<long>")
    assert "LocalTableScan" in _plan(df)
    assert [tuple(r) for r in df.collect()] == [("it's \\ x", [1, 2]), ("z", None)]
    empty = local_table(spark, [], "bucket long")
    assert empty.collect() == [] and empty.schema.simpleString() == "struct<bucket:bigint>"

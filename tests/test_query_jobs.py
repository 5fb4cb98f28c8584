"""Planning cost of a warm query, and the stage schemas that keep it low.

``IndexStore.commit_stage`` records each stage's schema in the manifest,
so ``read_stage`` opens a stage without the one-task footer-inference
job a bare ``spark.read.parquet`` starts. A warm ``wand_topk`` /
``dismax_topk`` call then starts exactly one Spark job before its result
is collected: the dictionary lookup. Recorded schemas must read the same
schema and rows as inference, and manifests that predate the record
must still read (and resume) through the inference fallback."""

from __future__ import annotations

import itertools
import json
import shutil

import pytest
from pyspark.sql import functions as F

from marc_solr_profiling_spark.corpus import generate_web_pages
from marc_solr_profiling_spark.operators.wand import dismax_topk, wand_topk
from marc_solr_profiling_spark.plans.build import build_index, open_index
from marc_solr_profiling_spark.plans.generations import (
    append_delta,
    maybe_compact,
)
from marc_solr_profiling_spark.plans.multifield import build_multifield_index

QUERIES = ["the of and", "her when", "some up kng"]
_groups = itertools.count()


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started in this thread)."""
    sc = spark.sparkContext
    group = f"test-query-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def docs(spark):
    d = (generate_web_pages(spark, 200, seed=23, partitions=4)
         .select("url", "text").persist())
    d.count()
    yield d
    d.unpersist()


def _page_no():
    return F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")


@pytest.fixture(scope="module")
def base(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("qj") / "base")
    return build_index(spark, docs.filter(_page_no() < 150), path,
                       key_col="url", chain="text", n_salts=4,
                       block_size=32)


@pytest.fixture(scope="module")
def chain(spark, docs, base, tmp_path_factory):
    """Base + one generation: new pages, upserts and tombstones."""
    n = _page_no()
    mods = docs.filter((n < 150) & (n % 7 == 0)).withColumn(
        "text", F.concat(F.lit("kng refreshed "), F.col("text")))
    dels = docs.filter((n < 150) & (n % 11 == 3)).select("url")
    return append_delta(
        spark, base, str(tmp_path_factory.mktemp("qj") / "gen1"),
        delta_docs=docs.filter(n >= 150).unionByName(mods),
        delete_keys=dels, key_col="url")


@pytest.fixture(scope="module")
def merged(spark, chain, tmp_path_factory):
    out = maybe_compact(spark, chain,
                        str(tmp_path_factory.mktemp("qj") / "merged"),
                        max_generations=1)
    assert out is not chain
    return out


@pytest.fixture(scope="module")
def multifield(spark, docs, tmp_path_factory):
    pages = docs.select(F.xxhash64("url").alias("doc_id"), "text")
    return build_multifield_index(
        spark, pages, str(tmp_path_factory.mktemp("qj") / "mf"),
        fields=[("title", 6), ("body", None)], key_col="doc_id",
        id_col="doc_id", text_col="text", chain="text", n_salts=4,
        block_size=32)


@pytest.mark.parametrize("which", ["base", "chain"])
def test_warm_wand_topk_plans_with_one_job(spark, request, which):
    idx = request.getfixturevalue(which)
    if which == "chain":
        assert len(idx.stores) == 2 and idx.deletes_df() is not None
    wand_topk(idx, QUERIES[0], k=10).collect()  # warm-up
    for q in QUERIES:
        df, n_jobs = _jobs_started(spark, lambda: wand_topk(idx, q, k=10))
        assert n_jobs == 1, (which, q, n_jobs)
        assert df.collect()


def test_warm_dismax_topk_plans_with_one_job(spark, multifield):
    qf = {"title": 2.0, "body": 1.0}
    dismax_topk(multifield, QUERIES[0], qf=qf, k=10).collect()  # warm-up
    for q in QUERIES:
        for with_url in (False, True):
            df, n_jobs = _jobs_started(spark, lambda: dismax_topk(
                multifield, q, qf=qf, k=10, with_url=with_url))
            assert n_jobs == 1, (q, with_url, n_jobs)
            assert df.collect()


def _rows(df):
    return sorted(repr(r) for r in df.collect())


def _assert_reads_match_inference(spark, store):
    stages = store.lineage()["stages"]
    assert stages
    for stage in stages:
        got = store.read_stage(spark, stage)
        want = spark.read.parquet(store.stage_path(stage))
        assert got.schema == want.schema, (store.path, stage)
        assert _rows(got) == _rows(want), (store.path, stage)


@pytest.mark.parametrize("which", ["base", "chain", "merged", "multifield"])
def test_recorded_schema_reads_like_inference(spark, request, which):
    idx = request.getfixturevalue(which)
    for stage in idx.store.lineage()["stages"].values():
        assert "schema" in stage
    _assert_reads_match_inference(spark, idx.store)


def _strip_schemas(store):
    with open(store.manifest_path) as f:
        m = json.load(f)
    for entry in m["stages"].values():
        entry.pop("schema", None)
    with open(store.manifest_path, "w") as f:
        json.dump(m, f)
    return m


def test_manifest_without_schemas_reads_and_resumes(spark, docs, base,
                                                    tmp_path):
    path = str(tmp_path / "old")
    shutil.copytree(base.store.path, path)
    old = open_index(spark, path)
    before = _strip_schemas(old.store)
    _assert_reads_match_inference(spark, old.store)
    want = wand_topk(base, QUERIES[2], k=10).collect()
    assert wand_topk(old, QUERIES[2], k=10).collect() == want
    # a resume over the old manifest skips every committed stage
    again = build_index(spark, docs.filter(_page_no() < 150), path,
                        key_col="url", chain="text", n_salts=4,
                        block_size=32)
    after = again.store.lineage()["stages"]
    assert {s: e["committed_at"] for s, e in after.items()} == {
        s: e["committed_at"] for s, e in before["stages"].items()}
    assert wand_topk(again, QUERIES[2], k=10).collect() == want

"""Whole-stage-codegen health: the similarity hot paths must actually
COMPILE, not silently fall back to interpreted execution.

Round-1 bench logs carried a swallowed janino ``Code grows beyond 64 KB``
failure (VERDICT r1 "What's wrong" #1): the 3×dim-term unrolled cosine
fused into a BroadcastNestedLoopJoin consume method, and the
planes×dim-term SRP bucket expression inlined into a pushed-down Filter
condition — both contexts where codegen cannot split expressions into
sub-methods.  The fixes (norms below the exchanges; probe restriction as
a broadcast join key instead of an ``isin`` filter) are pinned here by
running with ``spark.sql.codegen.fallback=false``, which turns any
codegen failure into a hard error.  The same setting pins the chain
projection of ``validate``: the job's default rules, a wide table of
32 four-step string chains, and the nested golden chains.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

import filters_spark as fs
from filters_spark.pipeline.similarity import (
    cosine_topk,
    embedding_near_dups,
    ivf_centroids,
    ivf_topk,
    srp_topk,
)

DIM = 64


@pytest.fixture(scope="module")
def emb64(spark):
    # deterministic dim-64 vectors (md5-derived, no RNG state)
    def vec(i):
        return [
            int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
            / float(1 << 31)
            - 1.0
            for d in range(DIM)
        ]

    rows = [(i, [float(x) for x in vec(i)]) for i in range(80)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


@pytest.fixture()
def no_codegen_fallback(spark):
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    yield
    spark.conf.set("spark.sql.codegen.fallback", prev)


def test_validate_default_rules_compiles(spark, no_codegen_fallback):
    from filters_spark.data.transcripts import transcripts
    from filters_spark.job import default_rules

    out = fs.validate(transcripts(spark, n_convs=20), default_rules())
    rows = out.select("_violations", "_is_valid").collect()
    assert rows and all(r["_is_valid"] == (not r["_violations"]) for r in rows)


def test_validate_wide_chains_compile(spark, no_codegen_fallback):
    """32 string columns of a four-step chain in one projection stay
    within the JVM's 64 KB method limit (no codegen failure)."""
    n_cols = 32
    names = [f"c{i}" for i in range(n_cols)]
    values = [None, "", "  ok  ", "no", "toolongvalue", "yes"]
    rows = [
        tuple(values[(r + c) % len(values)] for c in range(n_cols))
        for r in range(12)
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in names))
    chain = (
        fs.Required()
        | fs.Strip()
        | fs.MaxLength(4, truncate=True)
        | fs.Choice(("ok", "no", "tool", "yes"))
    )
    out = fs.validate(df, {c: chain for c in names}).collect()
    # values[0] (NULL) and values[1] ("") fail Required; the rest clean to
    # a valid choice ("toolongvalue" truncates to "tool")
    want = [
        sum((r + c) % len(values) < 2 for c in range(n_cols)) for r in range(12)
    ]
    assert [len(row["_violations"]) for row in out] == want
    assert not any(row["_is_valid"] for row in out)
    assert out[0]["c4"] == "tool" and out[0]["c2"] == "ok"


@pytest.mark.parametrize("chain_id", ["mapper_basic", "repeater_int", "switch_item"])
def test_nested_chains_compile(spark, no_codegen_fallback, chain_id):
    """Nested golden chains bind each step once, so their generated code
    stays small enough for janino, and collect to their golden values."""
    from tests.golden_utils import load_goldens
    from tests.test_goldens import NESTED_SPEC_CHAINS, _assert_group

    group = load_goldens("nested")[chain_id]
    _assert_group(spark, NESTED_SPEC_CHAINS[chain_id](), group, chain_id)


def test_exact_near_dups_compiles(emb64, no_codegen_fallback):
    out = embedding_near_dups(
        emb64, threshold=0.2, exact=True
    ).collect()
    assert isinstance(out, list)


def test_bucketed_near_dups_compiles(emb64, no_codegen_fallback):
    out = embedding_near_dups(emb64, threshold=0.2, planes=6).collect()
    assert isinstance(out, list)


def test_srp_topk_compiles(emb64, no_codegen_fallback):
    q = emb64.where(F.col("vec_id") == 0).first()["embedding"]
    out = srp_topk(
        emb64, [float(x) for x in q], k=5, planes=6, multiprobe=3
    ).collect()
    assert out and out[0]["vec_id"] == 0


def test_ivf_topk_compiles(emb64, no_codegen_fallback):
    """Pins the three IVF expression-size fixes (scalar-literal
    centroids, per-column score projection instead of one CreateArray,
    non-nullable cell so the inner join infers no isnotnull(cell) that
    pushdown would inline as a 600 KB Filter CASE)."""
    q = emb64.where(F.col("vec_id") == 0).first()["embedding"]
    cents = ivf_centroids(emb64, n_cells=8)
    out = ivf_topk(
        emb64,
        [float(x) for x in q],
        k=5,
        n_cells=8,
        nprobe=2,
        centroids=cents,
    ).collect()
    assert out and out[0]["vec_id"] == 0
    plan = ivf_topk(
        emb64, [float(x) for x in q], k=5, centroids=cents
    )._jdf.queryExecution().optimizedPlan().toString()
    # the giant inlined-filter regression was a ~620 KB plan line
    assert max(len(ln) for ln in plan.splitlines()) < 100_000


def test_cosine_topk_compiles(emb64, no_codegen_fallback):
    q = emb64.where(F.col("vec_id") == 1).first()["embedding"]
    out = cosine_topk(emb64, [float(x) for x in q], k=3).collect()
    assert [r["vec_id"] for r in out][0] == 1

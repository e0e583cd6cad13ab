"""Vector-statistics operators (operators/vector_stats.py): the
tree-aggregated covariance matrix, PCA projection, per-label
centroids, and the n-gram novelty score.

The covariance/PCA checks pin the distributed computation against a
single-process NumPy computation over the SAME rows — the strongest
oracle available for the non-SQL-expressible eig path.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_pipeline_001_spark.operators.vector_stats import (
    covariance_matrix,
    label_centroids,
    pca_project,
    _principal_components,
)
from data_pipeline_001_spark.operators.text_analysis import ngram_novelty


@pytest.fixture(scope="module")
def emb_np(tables):
    rows = (
        tables["embeddings"]
        .select("vec_id", "embedding", "label")
        .orderBy("vec_id")
        .collect()
    )
    M = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    return ids, M, labels


def test_covariance_matches_numpy(tables, emb_np):
    _, M, _ = emb_np
    expected = np.cov(M, rowvar=False, bias=True)  # population covariance
    got = covariance_matrix(tables["embeddings"]).collect()
    d = M.shape[1]
    assert len(got) == d * d
    C = np.zeros((d, d))
    for r in got:
        C[r["dim_i"], r["dim_j"]] = r["cov"]
    assert np.allclose(C, expected, atol=1e-6)
    # rounding canonicalized: no negative zeros in the output
    assert not any(r["cov"] == 0 and np.signbit(r["cov"]) for r in got)


def test_covariance_partials_are_batch_sized(tables):
    """The shuffle input is per-batch partials (d²+d+1 rows each), not
    n·d² exploded products — the property that makes this 100 TB-safe."""
    from data_pipeline_001_spark.operators.vector_stats import _gram_partials

    emb = tables["embeddings"]
    n_vecs = emb.count()
    d = len(emb.select("embedding").first()[0])
    n_partial_rows = _gram_partials(emb, "embedding").count()
    per_batch = d * d + d + 1
    n_batches = n_partial_rows / per_batch
    # far fewer batches than vectors (Arrow batches are thousands of rows)
    assert n_partial_rows % per_batch == 0
    assert n_batches <= max(n_vecs / 100, 32)


def test_pca_matches_numpy(tables, emb_np):
    ids, M, _ = emb_np
    k = 3
    comps, eigvals = _principal_components(tables["embeddings"], "embedding", k)
    # components orthonormal, eigenvalues descending
    assert np.allclose(comps @ comps.T, np.eye(k), atol=1e-8)
    assert all(eigvals[i] >= eigvals[i + 1] - 1e-12 for i in range(k - 1))
    # sign fix: largest-|coeff| entry of each component is positive
    for v in comps:
        assert v[np.argmax(np.abs(v))] > 0
    got = (
        pca_project(tables["embeddings"], k=k)
        .orderBy("vec_id")
        .collect()
    )
    got_ids = np.array([r["vec_id"] for r in got])
    P = np.array([[r[f"pc{i + 1}"] for i in range(k)] for r in got])
    assert (got_ids == ids).all()
    assert np.allclose(P, M @ comps.T, atol=1e-5)
    # variance along pc1 >= variance along pc2 >= ... (top-k ordering)
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))


def test_label_centroids_match_numpy(tables, emb_np):
    _, M, labels = emb_np
    got = label_centroids(tables["embeddings"]).collect()
    d = M.shape[1]
    n_labels = len(set(labels.tolist()))
    assert len(got) == n_labels * d
    for r in got:
        expected = M[labels == r["label"], r["dim"]].mean()
        assert abs(r["centroid"] - expected) < 1e-6


def test_ngram_novelty_planted(spark):
    docs = spark.createDataFrame(
        [
            # doc 1: all grams first seen here -> novelty 1
            (1, "alpha beta gamma delta"),
            # doc 2: exact copy of doc 1 -> nothing novel
            (2, "alpha beta gamma delta"),
            # doc 3: shares one gram with doc 1, adds one new gram
            (3, "alpha beta gamma zeta"),
            # doc 4: too short for a 3-gram
            (4, "one two"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert len(out) == 4
    assert out[1]["n_grams"] == 2 and out[1]["n_novel"] == 2
    assert out[1]["novelty"] == 1.0
    assert out[2]["n_grams"] == 2 and out[2]["n_novel"] == 0
    assert out[2]["novelty"] == 0.0
    # doc 3 grams: "alpha beta gamma" (seen in doc 1), "beta gamma zeta" (new)
    assert out[3]["n_grams"] == 2 and out[3]["n_novel"] == 1
    assert out[3]["novelty"] == 0.5
    assert out[4]["n_grams"] == 0 and out[4]["novelty"] == 0.0


def test_ngram_novelty_distinct_grams(spark):
    # a repeated gram inside one doc counts once (distinct semantics)
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c")], ["doc_id", "text"]
    )
    r = ngram_novelty(docs, n=3).collect()[0]
    # windows: abc bca cab abc bca cab abc -> 3 distinct
    assert r["n_grams"] == 3
    assert r["n_novel"] == 3


def test_covariance_plan_no_python_row_udf(tables):
    """mapInPandas (Arrow-batched) is the only Python boundary — no
    row-at-a-time BatchEvalPython anywhere. The partial-agg is
    materialized behind a persist, so the Arrow node is asserted on
    the partials subtree (the final plan reads the cached relation)
    and the row-UDF absence on both."""
    from data_pipeline_001_spark.operators.vector_stats import (
        _gram_partials,
    )

    partials = _gram_partials(tables["embeddings"], "embedding")
    pplan = partials._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in pplan
    assert "MapInPandas" in pplan
    plan = covariance_matrix(tables["embeddings"])._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def _ancestors(lines: list[str], i: int):
    """The lines of line i's ancestors in a Spark tree string: each
    nearer ancestor starts its node text further left."""
    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    depth = col(lines[i])
    for j in range(i - 1, -1, -1):
        if col(lines[j]) < depth:
            depth = col(lines[j])
            yield lines[j]


def test_covariance_single_corpus_scan(tables):
    """The n/s/G branches share one MATERIALIZED partial-agg (a
    persisted bounded intermediate), so the corpus parquet is computed
    once and every branch reads the cache boundary (4 independent
    corpus scans before the fix)."""
    df = covariance_matrix(tables["embeddings"])
    df.write.mode("overwrite").format("noop").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # all three branches (Gram entries, per-dim sums, count) hit the
    # materialized boundary ...
    cached_reads = (
        plan.count("InMemoryTableScan")
        + plan.count("TableCacheQueryStage")
        + plan.count("Scan ExistingRDD")
    )
    assert cached_reads >= 3, plan
    # ... and the corpus scan appears only inside the cached
    # relation's own plan, never on a branch that reads the parquet
    lines = plan.splitlines()
    scans = [i for i, ln in enumerate(lines) if "Scan parquet" in ln]
    assert scans, plan
    for i in scans:
        assert any(
            "InMemoryRelation" in a for a in _ancestors(lines, i)
        ), f"corpus scan outside the cache boundary: {lines[i]}\n{plan}"


def test_ngram_novelty_exchange_count(tables):
    """The gram repartition is reused by the (gram, doc) dedup agg and
    the first-seen window: exactly 3 exchanges (tokens→doc window,
    gram partition, doc agg), not 4."""
    df = ngram_novelty(tables["documents"], n=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 3


class TestDSIR:
    def test_target_like_docs_score_higher(self, spark):
        from data_pipeline_001_spark.operators.text_analysis import (
            dsir_log_weights,
        )

        target = spark.createDataFrame(
            [(100 + i, "wiki article reference cite " * 5) for i in range(5)],
            ["doc_id", "text"],
        )
        raw = spark.createDataFrame(
            [
                (1, "wiki article reference cite " * 5),  # target-like
                (2, "buy cheap pills now click " * 5),  # spam
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in dsir_log_weights(raw, target).collect()}
        assert out[1]["log_weight"] > out[2]["log_weight"]
        # the target-like doc's tokens all appear in the target: its
        # per-token ratio is positive; the spam doc's is negative
        assert out[1]["log_weight"] > 0 > out[2]["log_weight"]

    def test_ratio_join_is_broadcast(self, tables):
        from pyspark.sql import functions as F
        from data_pipeline_001_spark.operators.text_analysis import (
            dsir_log_weights,
        )

        docs = tables["documents"]
        df = dsir_log_weights(
            docs.where(F.col("doc_id") % 29 != 0),
            docs.where(F.col("doc_id") % 29 == 0),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the bounded log-ratio table broadcasts; the token stream is
        # never the build side of a shuffle join
        assert "BroadcastHashJoin" in plan


class TestUnicodeNormalize:
    CASES = [
        "Amélie",       # decomposed e + combining acute
        "Amélie",        # precomposed é
        "garçon über naïve",
        "øß",       # non-decomposable: pass through
        "plain ascii",
    ]

    def test_nfc_and_strip_match_duckdb(self, spark):
        """Cross-engine pin for the NON-ASCII contract the corpus
        oracle can't exercise (the synthetic text is ASCII)."""
        import duckdb

        from data_pipeline_001_spark.functions.udfs import (
            nfc_normalize,
            strip_accents,
        )

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.CASES)], ["i", "s"]
        )
        got = {
            r["i"]: (r["nfc"], r["st"])
            for r in df.select(
                "i",
                nfc_normalize(F.col("s")).alias("nfc"),
                strip_accents(F.col("s")).alias("st"),
            ).collect()
        }
        con = duckdb.connect()
        for i, s in enumerate(self.CASES):
            nfc, st = con.execute(
                "SELECT nfc_normalize(?), strip_accents(?)", [s, s]
            ).fetchone()
            assert got[i] == (nfc, st), f"case {i}: {s!r}"

    def test_composed_and_decomposed_unify(self, spark):
        from data_pipeline_001_spark.functions.udfs import nfc_normalize

        df = spark.createDataFrame(
            [(1, "Amélie"), (2, "Amélie")], ["i", "s"]
        )
        vals = {
            r["i"]: r["n"]
            for r in df.select(
                "i", nfc_normalize(F.col("s")).alias("n")
            ).collect()
        }
        assert vals[1] == vals[2] == "Am\u00e9lie"


def test_ngram_novelty_matches_python_reference(spark):
    """Seeded random corpus vs a pure-Python computation of the same
    contract — catches any divergence in gram construction, distinct
    semantics, or first-seen attribution."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
        for i in range(50)
    ]
    n = 3
    # python reference
    def grams(text):
        toks = text.split()
        return {
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        }

    first: dict[str, int] = {}
    for i, t in docs:
        for g in sorted(grams(t)):
            first.setdefault(g, i)
    expected = {}
    for i, t in docs:
        gs = grams(t)
        novel = sum(1 for g in gs if first[g] == i)
        expected[i] = (len(gs), novel)

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = ngram_novelty(df, n=n).collect()
    assert len(out) == 50
    for r in out:
        eg, en = expected[r["doc_id"]]
        assert (r["n_grams"], r["n_novel"]) == (eg, en), r
        want = round(en / eg, 6) if eg else 0.0
        assert abs(r["novelty"] - want) < 1e-9


def test_drift_psi_matches_python_reference(spark):
    import math
    import random

    from data_pipeline_001_spark.operators.constraints import drift_psi

    rng = random.Random(11)
    base_vals = [rng.uniform(-10, 110) for _ in range(400)]
    cur_vals = [rng.gauss(70, 15) for _ in range(300)]
    lo, hi, nb, eps = 0.0, 100.0, 10, 1e-6
    w = (hi - lo) / nb

    def hist(vals):
        h = [0] * nb
        for v in vals:
            b = min(max(int(math.floor((v - lo) / w)), 0), nb - 1)
            h[b] += 1
        return h

    hb, hc = hist(base_vals), hist(cur_vals)
    tb, tc = sum(hb), sum(hc)
    expected = []
    for b in range(nb):
        pb, pc = max(hb[b] / tb, eps), max(hc[b] / tc, eps)
        expected.append(round((pc - pb) * math.log(pc / pb), 6))

    base = spark.createDataFrame([(v,) for v in base_vals], ["v"])
    cur = spark.createDataFrame([(v,) for v in cur_vals], ["v"])
    out = {
        r["bin"]: r["psi_term"]
        for r in drift_psi(base, cur, "v", lo=lo, hi=hi, n_bins=nb).collect()
    }
    for b in range(nb):
        assert abs(out[b] - expected[b]) < 2e-6, (b, out[b], expected[b])


def test_quantization_calibration_contracts(spark):
    from data_pipeline_001_spark.operators.vector_stats import (
        quantization_calibration,
    )

    import random

    rng = random.Random(7)
    # dim 1: tight gaussian-ish; dim 2: same + one huge outlier —
    # absmax must blow up while the clipped scale stays put
    n = 2000  # p99.9's interpolation rank must sit BELOW the outlier
    rows = []
    for i in range(n - 1):
        rows.append((i, [rng.uniform(-1, 1), rng.uniform(-1, 1)]))
    rows.append((n - 1, [0.5, 1000.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["pos"]: r for r in quantization_calibration(df).collect()}
    assert set(out) == {1, 2} and all(r["n_vals"] == n for r in out.values())
    for r in out.values():
        assert r["absmax"] >= r["p_clip_abs"]
        assert abs(r["scale_absmax"] - round(r["absmax"] / 127.0, 6)) < 1e-9
        # clip fraction ~ (1 - pct); never more than a few values
        assert r["clip_frac"] <= 4 / n
    assert out[2]["absmax"] == 1000.0
    # the outlier must NOT drag the clipped scale: p99.9 of dim 2 is
    # within the base distribution's reach, far under absmax/127
    assert out[2]["p_clip_abs"] < 5.0
    assert out[2]["scale_clipped"] < out[2]["scale_absmax"] / 100

"""Property-based tests (SURVEY.md §5.4): driver-side invariants of
the duration parser and spine arithmetic under hypothesis; the Spark
spine itself is property-checked once per example-set (spine
partitions [start, end) with no gaps/overlaps — the self-verifying
detector pair)."""

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from data_pipeline_001_spark.functions.time_fns import (
    parse_duration_seconds,
    parse_granularity_minutes,
    rounded_past_timestamp,
)


@given(
    d=st.integers(0, 6),
    h=st.integers(0, 23),
    m=st.integers(0, 59),
    s=st.integers(0, 59),
)
def test_duration_roundtrip(d, h, m, s):
    spec = ""
    if d:
        spec += f"{d}d"
    if h:
        spec += f"{h}h"
    if m:
        spec += f"{m}m"
    if s:
        spec += f"{s}s"
    if not spec:
        return
    assert parse_duration_seconds(spec) == d * 86400 + h * 3600 + m * 60 + s


@given(minutes=st.integers(1, 1439))
def test_granularity_accepts_all_subday(minutes):
    h, m = divmod(minutes, 60)
    spec = (f"{h}h" if h else "") + (f"{m}m" if m else "")
    assert parse_granularity_minutes(spec) == minutes


@given(
    now=st.datetimes(
        min_value=datetime(2020, 1, 1), max_value=datetime(2030, 1, 1)
    ),
    back_h=st.integers(1, 72),
)
@settings(max_examples=50)
def test_safe_boundary_always_in_past_and_floored(now, back_h):
    b = rounded_past_timestamp(f"{back_h}h", now)
    assert b <= now
    assert b.minute == 0 and b.second == 0 and b.microsecond == 0
    # floor(now, hour) - back is exactly the boundary
    assert b == now.replace(minute=0, second=0, microsecond=0) - timedelta(hours=back_h)


def test_spine_partitions_range_for_many_granularities(spark):
    """For a sample of granularities: windows tile [start, end) exactly
    — total duration matches, no gaps, no overlaps (checked by our own
    W1/W2 detectors)."""
    from pyspark.sql import functions as F

    from data_pipeline_001_spark.functions.time_fns import window_spine
    from data_pipeline_001_spark.operators.windows import check_continuity, detect_overlaps

    start, end = "2024-03-01 00:00:00", "2024-03-02 00:00:00"
    for gran, n_expected in [("1h", 24), ("30m", 48), ("7h", 4), ("2h30m", 10)]:
        spine = window_spine(spark, start, end, gran)
        total_min = spine.agg(F.sum("duration_minutes")).first()[0]
        assert total_min == 1440, gran
        assert spine.count() == n_expected, gran
        assert check_continuity(spine).count() == 0, gran
        assert detect_overlaps(spine).count() == 0, gran


# ------------------------------------------------------- wave-2 operators


def _norm(s: str) -> str:
    import re

    return re.sub(r"\s+", " ", s.lower()).strip()


def test_substring_spans_match_python_reference(spark):
    """Randomized corpus (seeded): Spark's hash-first/verify-late span
    dedup must equal a direct python computation of the same spec."""
    import random

    from data_pipeline_001_spark.operators.text_analysis import (
        duplicated_substring_spans,
    )

    rng = random.Random(7)
    vocab = [f"w{i:02d}" for i in range(40)]
    shared_a = " ".join(rng.choice(vocab) for _ in range(25))
    shared_b = " ".join(rng.choice(vocab) for _ in range(18))
    rows = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(10, 60))]
        text = " ".join(words)
        if i % 5 == 0:
            text += " " + shared_a
        if i % 7 == 0:
            text = shared_b + " " + text
        rows.append((i, text))
    k = 16

    # python reference: mark every k-char window shared by >= 2 docs,
    # merge consecutive marked positions into spans
    norm = {i: _norm(t) for i, t in rows}
    owners: dict[str, set] = {}
    for i, s in norm.items():
        for p in range(len(s) - k + 1):
            owners.setdefault(s[p : p + k], set()).add(i)
    expect = set()
    for i, s in norm.items():
        marked = [
            p
            for p in range(len(s) - k + 1)
            if len(owners[s[p : p + k]]) >= 2
        ]
        run_start = None
        prev = None
        for p in marked + [None]:
            if p is not None and prev is not None and p == prev + 1:
                prev = p
                continue
            if run_start is not None:
                expect.add((i, run_start + 1, prev - run_start + k))
            run_start, prev = p, p
        assert run_start is None or prev is not None

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_substring_spans(docs, k=k).collect()
    }
    assert got == expect


def test_decontaminate_matches_python_reference(spark):
    import random

    from data_pipeline_001_spark.operators.text_analysis import decontaminate

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(25)]
    docs = []
    for i in range(40):
        docs.append(
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        )
    n = 6
    bench_rows = [d for d in docs if d[0] % 4 == 0]
    train_rows = [d for d in docs if d[0] % 4 != 0]

    def grams(text):
        w = _norm(text).split(" ")
        return {
            " ".join(w[i : i + n]) for i in range(len(w) - n + 1)
        } if len(w) >= n else set()

    bench_grams = set().union(*(grams(t) for _, t in bench_rows))
    expect = {
        i: len(grams(t) & bench_grams) for i, t in train_rows
    }

    schema = "doc_id long, text string"
    out = decontaminate(
        spark.createDataFrame(train_rows, schema),
        spark.createDataFrame(bench_rows, schema),
        n=n,
    ).collect()
    got = {r["doc_id"]: r["n_hits"] for r in out}
    assert got == expect
    for r in out:
        assert r["contaminated"] == (1 if r["n_hits"] > 0 else 0)


# -- round-4 text-prep inversion properties ---------------------------

_WORD = st.text(alphabet="abcdefgh0123", min_size=1, max_size=8)
_CLEAN = st.lists(_WORD, min_size=1, max_size=12).map(" ".join)
_SCRIPT = st.text(
    alphabet="abc <>&\"'=;{}", min_size=0, max_size=40
).filter(lambda s: "</" not in s.lower())
_COMMENT = st.text(alphabet="abc <>&", min_size=0, max_size=20).filter(
    lambda s: "--" not in s
)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(_CLEAN, min_size=1, max_size=8),
    script=_SCRIPT,
    comment=_COMMENT,
    tag=st.sampled_from(["p", "div", "span", "article"]),
)
def test_html_extraction_inverts_arbitrary_wrapping(
    spark, texts, script, comment, tag
):
    """For ANY clean text and ANY boilerplate content (script bodies
    with angle brackets/quotes/entities, comments, nested tags), the
    extractor returns exactly the whitespace-normalized clean text."""
    import re as _re

    from pyspark.sql import functions as F

    from data_pipeline_001_spark.operators.text_analysis import html_to_text

    rows = []
    for i, t in enumerate(texts):
        html = (
            f"<html><head><script a='x'>{script}</script>"
            f"<!--{comment}--><style>b {{c: d}}</style></head>"
            f"<body><{tag} class=\"z\">{t}</{tag}>\n</body></html>"
        )
        rows.append((i, t, html))
    df = spark.createDataFrame(rows, "i long, clean string, html string")
    got = {
        r["i"]: r["t"]
        for r in df.select("i", html_to_text(F.col("html")).alias("t")).collect()
    }
    for i, t, _ in rows:
        want = _re.sub(r"[ \t\r\n]+", " ", t).strip()
        assert got[i] == want, (got[i], want)


def test_url_canonicalization_matches_reference(spark):
    """Canonical form equals a straightforward Python reference:
    https + lowercase de-www'd host + case-preserved path without the
    trailing slash + non-utm params in order. 200 seeded random cases
    over the same generator space the old hypothesis form sampled
    (hosts/www/case/segments/trailing-slash/param mixes), all checked
    in ONE Spark round-trip — one example per job burned ~11 s of
    suite for 10 cases."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_001_spark.operators.text_analysis import canonicalize_url

    rng = random.Random(20260815)
    keys = ["id", "q", "utm_source", "utm_x", "page"]

    def label():
        return "".join(
            rng.choice("abcz09") for _ in range(rng.randint(1, 6))
        )

    cases = []
    for i in range(200):
        host = ".".join(label() for _ in range(rng.randint(2, 3)))
        www, upper, slash = (rng.random() < 0.5 for _ in range(3))
        segs = [
            "".join(rng.choice("AbC9") for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(0, 3))
        ]
        params = [
            (
                rng.choice(keys),
                "".join(rng.choice("ab12") for _ in range(rng.randint(1, 4))),
            )
            for _ in range(rng.randint(0, 4))
        ]
        h = ("www." if www else "") + host
        raw_host = h.upper() if upper else h
        path = "".join(f"/{s}" for s in segs) + ("/" if slash else "")
        qs = "&".join(f"{k}={v}" for k, v in params)
        url = f"{'HTTPS' if upper else 'https'}://{raw_host}{path}" + (
            f"?{qs}" if qs else ""
        )
        kept = "&".join(
            f"{k}={v}" for k, v in params if not k.startswith("utm_")
        )
        expect = (
            "https://"
            + h.lower().removeprefix("www.")
            + path.rstrip("/")
            + (f"?{kept}" if kept else "")
        )
        cases.append((i, url, expect))

    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "i int, url string"
    )
    got = {
        r.i: r.c
        for r in df.select(
            "i", canonicalize_url(F.col("url")).alias("c")
        ).collect()
    }
    for i, url, expect in cases:
        assert got[i] == expect, (url, got[i], expect)


def test_property_bloom_parity_random_corpora(spark):
    """Randomized bloom-admission parity: for random corpus/batch
    fingerprint sets (varying overlap), dedup_incremental_bloom equals
    the plain anti-join — seeded stdlib randomness, 5 draws."""
    import random

    from data_pipeline_001_spark.operators.bloom import (
        dedup_incremental_bloom,
    )

    rng = random.Random(20260814)
    # the 5 draws share ONE Spark round-trip: trial-prefixed
    # fingerprints are disjoint across trials, so one bloom admission
    # over the union is exactly the 5 independent admissions
    corpus_rows, batch_rows, want = [], [], []
    for trial in range(5):
        uni = [f"t{trial}-fp-{i}" for i in range(rng.randint(50, 400))]
        corpus_fps = rng.sample(uni, rng.randint(10, len(uni) // 2))
        batch_fps = rng.sample(uni, rng.randint(10, len(uni) // 2))
        corpus_rows += [(f,) for f in corpus_fps]
        cset = set(corpus_fps)
        for i, f in enumerate(batch_fps):
            batch_rows.append((trial * 1000 + i, f))
            if f not in cset:
                want.append(trial * 1000 + i)
    corpus = spark.createDataFrame(corpus_rows, "fp string")
    batch = spark.createDataFrame(batch_rows, "id int, fp string")
    got = sorted(
        r.id
        for r in dedup_incremental_bloom(
            corpus, batch, "fp", m_bits=1 << 12
        ).collect()
    )
    assert got == sorted(want)


def test_property_ewma_closed_form_vs_recursion(spark):
    """The closed-form EWMA column equals the O(n) recursion on random
    integer series (seeded, 20 series × ≤40 points), to 1e-6."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(99)
    rows = []
    for g in range(20):
        n = rng.randint(1, 40)
        for t, x in enumerate(
            [float(rng.randint(0, 5000)) for _ in range(n)], start=1
        ):
            rows.append((g, t, x))
    df = spark.createDataFrame(rows, "g int, t int, x double")
    w = Window.partitionBy("g").orderBy("t")
    scaled = df.withColumn(
        "s",
        F.sum(F.col("x") * F.pow(F.lit(1.25), F.col("t"))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("x1", F.first("x").over(w))
    out = scaled.select(
        "g",
        "t",
        "x",
        (
            F.lit(0.2)
            * F.pow(F.lit(0.8), F.col("t"))
            * (F.col("s") - F.col("x1") * F.lit(1.25))
            + F.pow(F.lit(0.8), F.col("t") - 1) * F.col("x1")
        ).alias("ewma"),
    ).collect()
    by_g: dict = {}
    for r in sorted(out, key=lambda r: (r.g, r.t)):
        prev = by_g.get(r.g)
        expect = r.x if prev is None else 0.2 * r.x + 0.8 * prev
        assert abs(r.ewma - expect) < 1e-6, (r.g, r.t)
        by_g[r.g] = expect


def test_property_bpe_encode_chain_matches_python(spark):
    """The SQL replace-chain BPE token count equals a pure-Python
    greedy merge on random lowercase words (seeded, 200 words)."""
    import random

    from pyspark.sql import functions as F

    from data_pipeline_001_spark.plans.queries_mlprep import (
        _BPE_MERGES,
        _bpe_sql_chain,
    )

    rng = random.Random(7)
    words = [
        "".join(rng.choice("theandinorse") for _ in range(rng.randint(2, 12)))
        for _ in range(200)
    ]

    def py_tokens(w):
        # sentinel-delimited semantics, matching _bpe_sql_chain: each
        # rule matches only whole space-delimited token pairs
        seq = " " + " ".join(w) + " "
        for a, b in _BPE_MERGES:
            seq = seq.replace(f" {a} {b} ", f" {a}{b} ")
        return len(seq.split())

    df = spark.createDataFrame([(w,) for w in words], "w string")
    chain = _bpe_sql_chain("rtrim(regexp_replace(w, '(.)', '$1 '))")
    n_tok = f"length({chain}) - length(replace({chain}, ' ', '')) - 1"
    got = {
        r.w: r.n for r in df.select("w", F.expr(n_tok).alias("n")).collect()
    }
    for w in set(words):
        assert got[w] == py_tokens(w), w

"""Document-corpus analysis operators (SURVEY.md §2.13): per-doc
stats, quality scoring, heuristic language ID, fingerprinting —
thin compositions of ``functions.text`` column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_001_spark.functions import text as TX


def document_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document metrics: chars, whitespace tokens, regex tokens,
    punctuation/digit ratios, fingerprint."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        "lang",
        TX.char_len(t).alias("n_chars_computed"),
        TX.token_count(t).alias("n_tokens"),
        TX.regex_token_count(t).alias("n_regex_tokens"),
        F.round(TX.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(TX.digit_ratio(t), 6).alias("digit_ratio"),
        TX.fingerprint(t).alias("fp"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        "lang",
        TX.quality_score(t).alias("quality"),
    )


def rolling_hash_windows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    base: int = 257,
    mod: int = (1 << 31) - 1,
) -> DataFrame:
    """(id, pos, rh) — Rabin-Karp polynomial hash of every k-char
    window of the normalized text: h = Σ c_j·base^(k-1-j) mod m.

    Codegen shape: posexplode chars → k lead() columns → weighted sum
    (same interpreted-HOF avoidance as dedup.exploded_shingles; the
    per-char state-carrying aggregate() form measured O(len²)).
    Coefficients stay < 2^31 so products fit in long under ANSI mode.
    """
    from pyspark.sql import Window

    from data_pipeline_001_spark.functions.text import normalize_text

    chars = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(normalize_text(F.col(text_col)), "")).alias("pos", "ch"),
    ).where(F.col("ch") != "")
    w = Window.partitionBy("id").orderBy("pos")
    powers = [pow(base, k - 1 - j, mod) for j in range(k)]
    terms = []
    for j, p in enumerate(powers):
        c = F.ascii(F.col("ch") if j == 0 else F.lead("ch", j).over(w)).cast("long")
        terms.append((c % mod) * F.lit(p) % F.lit(mod))
    h = terms[0]
    for t in terms[1:]:
        h = (h + t) % F.lit(mod)
    last = F.lead("ch", k - 1).over(w)
    return chars.select("id", "pos", h.alias("rh"), last.alias("_l")).where(
        F.col("_l").isNotNull()
    ).drop("_l")


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """(id, fp) — winnowing fingerprints: the min rolling hash of each
    sliding window of ``window`` consecutive k-gram hashes, dedup'd
    (Schleimer/Wilkerson/Aiken, SIGMOD'03 local fingerprinting).
    Robust to insertions/reorderings in a way whole-document MD5 is
    not; two near-identical documents share most fingerprints, so a
    fingerprint-equality join is a dedup blocking key.

    Round-11 shape (guide §4.2): hash + sliding-min + per-doc dedup
    are all per-document-local, so the whole operator is ONE
    ``mapInArrow`` (NumPy-vectorized Rabin-Karp, bit-identical to
    :func:`rolling_hash_windows` — same parity pin as
    ``char_kgram_hashes``) followed by a JVM explode: ZERO shuffles,
    where the former form exchanged one row per character and ran
    three window passes plus a distinct shuffle. ``np.unique`` per
    doc gives exactly the old per-(id,fp) distinct set."""
    from data_pipeline_001_spark.functions.text import normalize_text

    base, mod = 257, (1 << 31) - 1
    powers = [pow(base, k - 1 - j, mod) for j in range(k)]
    norm = docs.select(
        F.col(id_col).cast("long").alias("id"),
        normalize_text(F.col(text_col)).alias("_s"),
    )
    # same single-file parallelism guard as char_kgram_hashes
    target = norm.sparkSession.sparkContext.defaultParallelism
    if norm.rdd.getNumPartitions() < target:
        norm = norm.repartition(target)

    def fp_batches(batches):
        import numpy as np
        import pyarrow as pa
        from numpy.lib.stride_tricks import sliding_window_view

        pw = np.array(powers, dtype=np.int64)
        out_schema = pa.schema(
            [("id", pa.int64()), ("fps", pa.list_(pa.int64()))]
        )
        for batch in batches:
            texts = batch.column(1).to_pylist()
            lens = np.array(
                [len(s) if s else 0 for s in texts], dtype=np.int64
            )
            big = np.frombuffer(
                "".join(s or "" for s in texts).encode("utf-32-le"),
                dtype="<u4",
            ).astype(np.int64)
            mbig = big.size - k + 1
            if mbig > 0:
                rh = np.zeros(mbig, dtype=np.int64)
                for j in range(k):
                    rh = (rh + (big[j : j + mbig] % mod) * pw[j]) % mod
            else:
                rh = np.empty(0, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m_doc = np.maximum(lens - k + 1, 0)
            chunks = []
            counts = []
            for s, m in zip(starts, m_doc):
                if m >= window:
                    u = np.unique(
                        sliding_window_view(rh[s : s + m], window).min(axis=1)
                    )
                    chunks.append(u)
                    counts.append(u.size)
                else:
                    counts.append(0)
            values = (
                np.concatenate(chunks)
                if chunks
                else np.empty(0, dtype=np.int64)
            )
            offsets = np.concatenate(
                ([0], np.cumsum(np.array(counts, dtype=np.int64)))
            )
            fps = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(values)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), fps], schema=out_schema
            )

    return (
        norm.mapInArrow(fp_batches, "id long, fps array<long>")
        .select("id", F.explode("fps").alias("fp"))
    )


def best_language(text):
    """struct(score, lang) with the argmax stopword-hit ratio: array_max
    over (score, lang) structs compares lexicographically, so ties break
    to the alphabetically-last language — mirrored in the SQL oracles."""
    scores = F.array(
        *[
            F.struct(
                F.round(TX.stopword_ratio(text, lang), 6).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(TX.STOPWORDS)
        ]
    )
    return F.array_max(scores)


def predicted_language(text):
    """Language code column: argmax stopword ratio, 'und' on zero hits."""
    best = best_language(text)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax stopword-hit ratio across the
    small built-in stopword tables; 'und' when nothing hits."""
    t = F.col(text_col)
    best = best_language(t)
    return docs.select(
        "doc_id",
        predicted_language(t).alias("predicted_lang"),
        best["score"].alias("lang_score"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    overlap_chars: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size character chunks with
    overlap — the standard RAG/pretraining preprocessing step.

    Chunk i covers [i·stride, i·stride + chunk_chars) with
    stride = chunk_chars - overlap_chars; the final chunk is the
    (possibly short) remainder so every character lands in ≥1 chunk.

    Pure column expressions: ``sequence`` generates the chunk index
    array per row and ``posexplode`` fans out — the explode happens
    executor-side on each partition, no shuffle, no UDF. Output rows
    are (doc_id, chunk_id, chunk_start, chunk_text, chunk_chars).
    """
    if overlap_chars >= chunk_chars:
        raise ValueError("overlap_chars must be < chunk_chars")
    stride = chunk_chars - overlap_chars
    t = F.col(text_col)
    n = F.length(t)
    # number of chunks: ceil(max(n - overlap, 1) / stride)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap_chars)).cast("double") / F.lit(stride)),
        F.lit(1),
    ).cast("int")
    return (
        docs.select(
            F.col(id_col),
            t.alias("_t"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("_i") * stride).alias("chunk_start"),
            F.substring(F.col("_t"), F.col("_i") * stride + 1, chunk_chars).alias(
                "chunk_text"
            ),
        )
        .withColumn("chunk_chars", F.length("chunk_text"))
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d[\d -]{7,}\d"


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact email addresses and phone-number-shaped digit runs —
    the standard pre-training PII pass. Counts are taken on the
    original text, then the patterns are replaced sequentially.
    Pure codegen regexp expressions (both patterns are RE2-safe, so
    the DuckDB oracle uses the identical regexes).
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"), PII_PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).alias("n_phones"),
        scrubbed.alias("scrubbed_text"),
    )


def repetition_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
) -> DataFrame:
    """Gopher-style repetition quality flag: the fraction of word
    n-grams taken by the single most frequent one. High values mark
    boilerplate/spam (repeated navigation text, keyword stuffing).

    Two narrow aggregations over the exploded shingles — cost ∝ corpus
    tokens, shuffles keyed on (doc, shingle) then doc."""
    from data_pipeline_001_spark.operators.dedup import exploded_shingles

    sh = exploded_shingles(docs, text_col, id_col, shingle_words)
    per = sh.groupBy("id", "sh").agg(F.count("*").alias("cnt"))
    return per.groupBy("id").agg(
        F.sum("cnt").alias("n_shingles"),
        F.max("cnt").alias("max_shingle_count"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("repetition_ratio"),
    ).withColumnRenamed("id", "doc_id")


def word_ngram_array(text: Column, n: int) -> Column:
    """array<string> of word ``n``-grams over the normalized text
    (space-joined windows of the whitespace-split words). Empty array
    when the document has fewer than ``n`` words — guarded explicitly
    because Spark's ``sequence(1, 0)`` would otherwise produce a
    *descending* [1, 0] sequence, not an empty one."""
    words = F.split(TX.normalize_text(text), " ")
    starts = F.sequence(F.lit(1), F.size(words) - F.lit(n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(words, i, n), " "))
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def exploded_word_ngrams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, gram) — one row per word ``n``-gram position of the
    normalized text. posexplode + ``lead`` + concat_ws, NOT the array
    HOF form: transform/slice lambdas run interpreted (the ~20×
    pathology ``exploded_shingles`` documents). Full windows only —
    docs with < n words contribute nothing."""
    from pyspark.sql import Window

    toks = F.split(TX.normalize_text(F.col(text_col)), r"\s+")
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        exploded.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("tok", n - 1).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "gram")
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty score: the fraction of the document's
    DISTINCT word ``n``-grams whose first corpus appearance (minimum
    doc_id over all docs containing the gram) is this document — a
    curation signal for "how much new content does each doc add"
    (high-novelty docs are kept first when budgeting a training mix).

    Shuffle shape: one exchange keyed on gram (the unbounded-frame
    window min), one keyed on doc — both linear in corpus grams; no
    joins between gram-sized relations.

    Returns (doc_id, n_grams, n_novel, novelty) for every document;
    docs with < n words score 0 over 0 grams.
    """
    from pyspark.sql import Window

    # one exchange on gram serves BOTH the (gram, doc) dedup and the
    # first-seen window: HashPartitioning(gram) satisfies the
    # clustering requirement of the (gram, doc_id) aggregate (subset
    # key) and of the gram-partitioned window, so neither re-shuffles —
    # 3 exchanges total instead of 4 (flat at sf1 where the doc-window
    # sort dominates; the saved full-table shuffle is the 100 TB win)
    grams = (
        exploded_word_ngrams(docs, text_col, id_col, n)
        .repartition(F.col("gram"))
        .groupBy("gram", "doc_id")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    first = grams.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("gram"))
    )
    per = first.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        ).alias("n_novel"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel") / F.col("n_grams"), F.lit(0.0)), 6
            ).alias("novelty"),
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with the benchmark/eval set (the GPT-3/Llama
    training-hygiene check; reference has no analogue — §2.13
    extension).

    Scale shape: the benchmark side is small (eval suites are MBs
    against a multi-TB corpus), so its distinct gram set is
    broadcast; the corpus side streams map-side through the hash join
    with NO shuffle of corpus grams. Per-doc hit counts then shuffle
    only the matching (doc, gram) pairs — in a clean corpus, almost
    nothing.

    Returns every training doc with ``n_hits`` (distinct benchmark
    grams it contains) and a 0/1 ``contaminated`` flag.
    """
    def exploded_ngrams(df: DataFrame) -> DataFrame:
        return exploded_word_ngrams(df, text_col, id_col, n)

    bench_grams = exploded_ngrams(benchmark).select("gram").distinct()
    train_grams = exploded_ngrams(train)
    # count_distinct in the agg instead of a pre-join distinct: the
    # broadcast join keeps corpus grams shuffle-free, so the only
    # shuffle is the post-join (doc, matched-gram) rows — dedup them
    # inside that one aggregation rather than adding a full corpus-gram
    # shuffle up front (measured 2.3x at the sf0.1 bench point)
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.when(F.coalesce(F.col("n_hits"), F.lit(0)) > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("contaminated"),
        )
    )


def char_kgram_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
    base: int = 257,
    mod: int = (1 << 31) - 1,
) -> DataFrame:
    """(id, pos, hk) — Rabin-Karp degree-(k-1) polynomial hash of
    every complete ``k``-char window of the normalized text:
    hk(pos) = Σ_i c_{pos+i} · base^(k-1-i) mod m, pos 0-based.

    Round-11 shape (guide §4.2): one ``mapInArrow`` over
    (id, normalized-text) — normalization stays JVM-side so only the
    two needed columns cross the Python boundary — with the hash
    arithmetic vectorized in NumPy (k shifted multiply-adds over the
    codepoint array; int64 exact since (c mod m)·p < 2^62) and the
    per-doc hash arrays exploded back in JVM codegen. The former form
    (posexplode per CHARACTER → Window lead() per id) pushed one row
    per char through an Exchange + two sorts: ~75M rows at sf1 for
    what is per-doc-local arithmetic. Values are bit-identical to the
    old composition of 8-gram rolling hashes (the power-weighted
    composition telescopes to this same polynomial), pinned by a
    parity test. Codepoints come from a vectorized utf-32 decode —
    the exact integers JVM ``ascii()`` produced per char."""
    from data_pipeline_001_spark.functions.text import normalize_text

    powers = [pow(base, k - 1 - j, mod) for j in range(k)]
    norm = docs.select(
        F.col(id_col).cast("long").alias("id"),
        normalize_text(F.col(text_col)).alias("_s"),
    )
    # parallelism guard: a single-file scan (one row group) is ONE
    # partition, which would serialize the whole hash stage through
    # one Python worker. Round-robin the (id, text) rows out to the
    # core count first — a shuffle of one row per DOC (~75 MB at
    # sf1), vs the one-row-per-CHAR exchange this operator replaced.
    # When the source already has >= cores partitions (any real
    # deployment), this is a no-op.
    target = norm.sparkSession.sparkContext.defaultParallelism
    if norm.rdd.getNumPartitions() < target:
        norm = norm.repartition(target)

    def hash_batches(batches):
        import numpy as np
        import pyarrow as pa

        pw = np.array(powers, dtype=np.int64)
        out_schema = pa.schema(
            [("id", pa.int64()), ("hks", pa.list_(pa.int64()))]
        )
        for batch in batches:
            texts = batch.column(1).to_pylist()
            lens = np.array(
                [len(s) if s else 0 for s in texts], dtype=np.int64
            )
            # ONE vectorized k-pass over the batch's concatenated
            # codepoint array (per-doc numpy calls are fixed-cost
            # bound at ~1.4 KB/doc); positions whose window would
            # cross a doc boundary are simply never selected below.
            big = np.frombuffer(
                "".join(s or "" for s in texts).encode("utf-32-le"),
                dtype="<u4",
            ).astype(np.int64)
            mbig = big.size - k + 1
            if mbig > 0:
                h = np.zeros(mbig, dtype=np.int64)
                for j in range(k):
                    h = (h + (big[j : j + mbig] % mod) * pw[j]) % mod
            else:
                h = np.empty(0, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m_doc = np.maximum(lens - k + 1, 0)
            chunks = [
                h[s : s + m] for s, m in zip(starts, m_doc) if m > 0
            ]
            values = (
                np.concatenate(chunks)
                if chunks
                else np.empty(0, dtype=np.int64)
            )
            offsets = np.concatenate(([0], np.cumsum(m_doc)))
            hks = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(values)
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), hks], schema=out_schema
            )

    hashed = norm.mapInArrow(hash_batches, "id long, hks array<long>")
    return hashed.select(
        "id", F.posexplode("hks").alias("pos", "hk")
    )


def char_ngram_group_counts(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    n: int = 3,
) -> DataFrame:
    """(g, tg, c) — per-group counts of every char ``n``-gram of
    ``lower(text)``, the n-gram PACKED bijectively into one int64
    (each codepoint ≤ 0x10FFFF fits 21 bits; n·21 ≤ 63). Packing is
    order-preserving for equal-length grams (codepoint order = UTF-8
    binary string order), so rank tie-breaks on the packed value
    agree with tie-breaks on the string.

    Round-11 shape (guide §2.3 "aggregate before you shuffle" +
    §4.2): the explode form materialized one 3-char STRING row per
    character (~13M at sf1) into a hash aggregate; here one
    ``mapInArrow`` packs each batch's windows vectorized (same
    codepoint machinery as `char_kgram_hashes`) and pre-counts them
    with `np.unique` per (batch, group) — what crosses the exchange
    is partial counts over the bounded distinct-gram space, not one
    row per character position.

    Semantics matched to the explode form exactly: rows with
    ``length(text) < n`` are dropped BEFORE lowering (the raw-length
    filter); if lowering ever shrinks a surviving text below ``n``
    chars (no such char in this corpus, but kept exact), the single
    short window packs right-zero-padded — same output as
    ``substring(low, 1, n)`` under the bijection (no real text
    contains codepoint 0)."""
    src = docs.where(F.length(text_col) >= n).select(
        F.col(group_col).alias("g"),
        F.lower(F.col(text_col)).alias("_s"),
    )
    # same single-file parallelism guard as char_kgram_hashes
    target = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)

    shifts = [21 * (n - 1 - j) for j in range(n)]

    def count_batches(batches):
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema(
            [("g", pa.string()), ("tg", pa.int64()), ("c", pa.int64())]
        )
        for batch in batches:
            groups = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            if not texts:
                continue
            lens = np.array(
                [len(s) if s else 0 for s in texts], dtype=np.int64
            )
            big = np.frombuffer(
                "".join(s or "" for s in texts).encode("utf-32-le"),
                dtype="<u4",
            ).astype(np.int64)
            mbig = big.size - n + 1
            if mbig > 0:
                packed = np.zeros(mbig, dtype=np.int64)
                for j, sh in enumerate(shifts):
                    packed += big[j : j + mbig] << sh
            else:
                packed = np.empty(0, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m_doc = np.maximum(lens - n + 1, 0)
            # None-safe group ordering (round-12, ADVICE): the explode
            # form this replaced grouped null lang as a key; a plain
            # sorted() over mixed None/str raises TypeError and would
            # fail the whole query on one null row. Nulls sort last
            # and pass through as a None group.
            gkey = lambda g: (g is None, g or "")  # noqa: E731
            gid = {g: k for k, g in enumerate(sorted(set(groups), key=gkey))}
            gnames = sorted(gid, key=gkey)
            chunks, rep_chunks = [], []
            for i, (s, m) in enumerate(zip(starts, m_doc)):
                if m > 0 and lens[i] >= n:
                    chunks.append(packed[s : s + m])
                    rep_chunks.append(np.full(m, gid[groups[i]]))
            win = (
                np.concatenate(chunks)
                if chunks
                else np.empty(0, dtype=np.int64)
            )
            rep = (
                np.concatenate(rep_chunks)
                if rep_chunks
                else np.empty(0, dtype=np.int64)
            )
            out_g, out_tg, out_c = [], [], []
            for gname in gnames:
                mask = rep == gid[gname]
                if mask.any():
                    u, cnt = np.unique(win[mask], return_counts=True)
                    out_g.extend([gname] * u.size)
                    out_tg.append(u)
                    out_c.append(cnt)
            # the lower()-shrank-below-n edge: one right-padded window
            for i in np.nonzero((lens > 0) & (lens < n))[0]:
                s, ln = starts[i], lens[i]
                v = 0
                for j in range(n):
                    v += (int(big[s + j]) if j < ln else 0) << shifts[j]
                out_g.append(groups[i])
                out_tg.append(np.array([v], dtype=np.int64))
                out_c.append(np.array([1], dtype=np.int64))
            if not out_g:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_g, type=pa.string()),
                    pa.array(np.concatenate(out_tg)),
                    pa.array(np.concatenate(out_c)),
                ],
                schema=out_schema,
            )

    partial = src.mapInArrow(count_batches, "g string, tg long, c long")
    return partial.groupBy("g", "tg").agg(F.sum("c").alias("c"))


def duplicated_substring_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 40,
) -> DataFrame:
    """ExactSubstr-style dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    the maximal character spans of its normalized text whose every
    ``k``-gram also appears verbatim in at least one OTHER document.

    100 TB shape — hash-first, verify-late, so full document text is
    never carried through the wide explode:
      1. rolling 8-gram Rabin-Karp hashes (cost ∝ chars, codegen);
         ``k``-gram hashes COMPOSE from five 8-gram hashes via
         ``lead`` + power weights instead of k per-char columns;
      2. hashes repeated across ≥2 docs → candidate (doc, pos);
      3. verify: extract the k-char substring ONLY at candidate
         positions (a join back to the doc table, one substr each)
         and re-group on the literal text — hash collisions die here,
         so the result is exact;
      4. gaps-and-islands merge (pos − row_number) of surviving
         positions into maximal spans.

    Returns (doc_id, span_start [1-based], span_len, n_windows).
    ``k`` must be a multiple of 8."""
    from pyspark.sql import Window

    from data_pipeline_001_spark.functions.text import normalize_text

    if k % 8 != 0:
        raise ValueError(f"k must be a multiple of 8, got {k}")
    base, mod = 257, (1 << 31) - 1
    # round-11: the k-gram hashes come straight from the vectorized
    # Arrow path (one mapInArrow, per-doc-local NumPy) instead of the
    # former per-char posexplode + two Window passes, which exchanged
    # and sorted one row per character (~75M at sf1) to compose 8-gram
    # rolling hashes. Same polynomial, bit-identical hk values
    # (parity-tested against the composition in the test suite).
    grams = char_kgram_hashes(docs, text_col, id_col, k, base=base, mod=mod)
    # grams feeds BOTH the shared-hash agg and the candidate join; the
    # per-side column sets differ so ReusedExchange can't kick in —
    # materialize the (id, pos, hk) triples (longs only, never the
    # text) rather than re-running the Arrow hash pass per branch.
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    grams = bounded_intermediate(grams)

    # "appears in >= 2 docs" as min(id) != max(id): same predicate,
    # but min/max partial-aggregate map-side for free while
    # count_distinct(id) must track a distinct-set per hash key
    shared = (
        grams.groupBy("hk")
        .agg(F.min("id").alias("_lo"), F.max("id").alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("hk")
    )
    cand = grams.join(shared, "hk").select("id", "pos")

    norm_docs = docs.select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("_t")
    )
    verified_grams = (
        cand.join(norm_docs, "id")
        .select("id", "pos", F.substring("_t", F.col("pos") + 1, k).alias("gram"))
    )
    true_shared = (
        verified_grams.groupBy("gram")
        .agg(F.min("id").alias("_lo"), F.max("id").alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("gram")
    )
    marked = verified_grams.join(true_shared, "gram").select("id", "pos")

    wo = Window.partitionBy("id").orderBy("pos")
    islands = marked.withColumn(
        "grp", F.col("pos") - F.row_number().over(wo)
    )
    return (
        islands.groupBy(F.col("id").alias("doc_id"), "grp")
        .agg(
            (F.min("pos") + 1).cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .drop("grp")
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-domain-like its hashed unigram profile is.

    log w(doc) = Σ_tokens log p̂_target(bucket(tok)) − log p̂_raw(bucket(tok))

    with add-one-smoothed bucket probabilities over ``n_buckets``
    md5-hashed feature buckets. Sampling ∝ softmax of these weights
    reproduces the target distribution in expectation — the published
    recipe for "give me web data that looks like Wikipedia".

    Scale shape: the two bucket-count tables are BOUNDED BY
    ``n_buckets`` (not corpus size) so the log-ratio table broadcasts
    by construction; corpus tokens stream map-side through that
    broadcast join with no shuffle, then one doc-keyed aggregation.
    The md5-prefix bucket hash is engine-portable (same arithmetic in
    the DuckDB oracle).

    Returns (doc_id, n_tokens, log_weight) for every raw document.
    """
    B = n_buckets

    def _buckets(df: DataFrame) -> DataFrame:
        toks = F.split(TX.normalize_text(F.col(text_col)), " ")
        tok = F.explode(toks).alias("tok")
        return df.select(F.col(id_col).alias("doc_id"), tok).select(
            "doc_id",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast(
                    "long"
                ),
                F.lit(B),
            ).alias("bucket"),
        )

    spark = raw.sparkSession
    spine = spark.range(B).select(F.col("id").cast("long").alias("bucket"))

    def _counts(df: DataFrame, name: str) -> DataFrame:
        c = _buckets(df).groupBy("bucket").agg(F.count("*").alias(name))
        return spine.join(F.broadcast(c), "bucket", "left").select(
            "bucket", F.coalesce(name, F.lit(0)).alias(name)
        )

    tc = _counts(target, "n_t")
    rc = _counts(raw, "n_r")
    totals = tc.agg(F.sum("n_t").alias("tot_t")).crossJoin(
        rc.agg(F.sum("n_r").alias("tot_r"))
    )
    ratio = (
        tc.join(rc, "bucket")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("n_t") + 1) / (F.col("tot_t") + B))
                - F.log((F.col("n_r") + 1) / (F.col("tot_r") + B))
            ).alias("log_ratio"),
        )
    )
    scored = (
        _buckets(raw)
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.round(F.sum("log_ratio"), 6) + F.lit(0.0)).alias("log_weight"),
        )
    )
    return (
        raw.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )


# -- HTML boilerplate extraction (round 4) ----------------------------

#: fixed entity decode table — numeric/named entities the extractor
#: understands. &amp; decodes LAST so double-encoded sequences
#: (&amp;#97;) don't decode twice — the standard ordering rule.
_HTML_ENTITIES = (
    ("&#97;", "a"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def html_to_text(html: Column) -> Column:
    """Boilerplate-stripping text extraction from raw HTML, entirely
    in codegen ``regexp_replace``/``replace`` chains — no UDF in the
    hot path (a 100 TB crawl-extract stage is regex-bound; keeping it
    JVM-side is the difference between codegen and Arrow round-trips).

    Contract (the trafilatura-lite subset):
    - ``<script>``/``<style>`` blocks AND their content removed;
    - HTML comments removed;
    - remaining tags stripped, their inner text kept;
    - the fixed entity table above decoded (&amp; last);
    - whitespace collapsed to single spaces, trimmed.
    """
    c = F.regexp_replace(html, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"[ \t\r\n]+", " "))


# -- URL canonicalization (round 4) -----------------------------------

def canonicalize_url(url: Column) -> Column:
    """Canonical form for dedup/domain-quota keys, pure codegen:

    - scheme + host lowercased (path/query case preserved);
    - scheme normalized to https, leading ``www.`` stripped;
    - tracking params (``utm_*``) dropped, other params kept in
      order (JVM higher-order ``filter``, no UDF);
    - trailing slash and empty ``?`` stripped.

    The per-URL shape a 100 TB crawl dedups on — exact-dup URL
    collapse and per-domain quotas both key on this.

    A string with no ``scheme://host`` part is NOT a canonicalizable
    URL and returns NULL (a Column function cannot raise per-row;
    NULL keeps malformed rows out of dedup keys instead of collapsing
    them all onto one near-empty canonical value).
    """
    host = F.lower(F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(url, r"(?i)^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(qs, "&"),
        lambda p: (~p.startswith("utm_")) & (p != ""),
    )
    qs_out = F.array_join(kept, "&")
    return F.when(
        host != "",
        F.concat(
            F.lit("https://"),
            host,
            path,
            F.when(qs_out != "", F.concat(F.lit("?"), qs_out)).otherwise(
                F.lit("")
            ),
        ),
    )


def url_domain(canonical_url: Column) -> Column:
    """Registrable-domain key off a canonical URL (host as-is — the
    synthetic corpus has no multi-label public-suffix hosts)."""
    return F.regexp_extract(canonical_url, r"^https://([^/?#]+)", 1)


# -- CCNet-style line-level boilerplate dedup (round 4) ----------------

def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 50,
) -> DataFrame:
    """Remove lines that occur in ≥ ``min_doc_freq`` distinct
    documents (CCNet's line-level dedup, Wenzek et al. 2020: repeated
    lines across a crawl are navigation/footer boilerplate, not
    content). Returns (doc_id, clean_text, n_kept, n_dropped) with
    surviving lines rejoined in original order.

    Scale shape: lines explode once and the exploded frame is
    PERSISTED (MEMORY_AND_DISK — three consumers reference it:
    frequency counts, the anti-join probe, and per-doc totals; the
    differing downstream exchanges defeat plan-level reuse, and
    re-exploding the corpus three times would triple the most
    expensive stage). Document-frequency is ONE groupBy over
    xxhash64(line) (8-byte shuffle keys, not strings; collision odds
    ~n²/2⁶⁴ — negligible and only ever merges two counts). The
    boilerplate side of the anti-join is pre-filtered to freq ≥ K,
    i.e. ≤ distinct_lines/K rows — usually broadcastable, and AQE
    decides (left unhinted: at crawl scale with a low K it degrades
    to a line-hash-sharded join, which is exactly CCNet's sharding
    shape).
    """
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("_lh", F.xxhash64("line"))
    lines = bounded_intermediate(lines)
    boiler = (
        lines.groupBy("_lh")
        .agg(F.count_distinct("_id").alias("df"))
        .where(F.col("df") >= min_doc_freq)
        .select("_lh")
    )
    kept = lines.join(boiler, "_lh", "left_anti")
    total = lines.groupBy("_id").agg(F.count("*").alias("n_lines"))
    out = (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        total.join(out, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def bpe_pair_stats(
    docs: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Adjacent symbol-pair frequencies within whitespace words — the
    counting step of one BPE tokenizer-training merge iteration
    (Sennrich et al. 2016, the public BPE formulation): the pair with
    the highest corpus count is the next merge rule.

    Plan shape (round-11, guide §2.3/§4.2): explode words in the JVM
    (split semantics stay Java's), then ONE ``mapInArrow`` packs each
    batch's within-word char bigrams vectorized and pre-counts them
    with ``np.unique`` — the count exchange carries partial counts
    over the bounded distinct-bigram space instead of one 2-char
    string row per character (~13M at sf1; measured 6.5 → 1.5 s
    same-session). Bigram strings are rebuilt from the packed
    codepoints (chr ∘ utf-32 decode roundtrips exactly, the
    char_kgram_hashes argument), so the aggregate keys are identical
    to ``substring(w, i, 2)``. TakeOrdered top-k keeps the
    deterministic (count desc, pair asc) tiebreak."""
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w")
    ).where(F.length("w") >= 2)
    target = docs.sparkSession.sparkContext.defaultParallelism
    if words.rdd.getNumPartitions() < target:
        words = words.repartition(target)

    def count_batches(batches):
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema([("pair", pa.string()), ("c", pa.int64())])
        for batch in batches:
            texts = batch.column(0).to_pylist()
            if not texts:
                continue
            lens = np.array(
                [len(s) if s else 0 for s in texts], dtype=np.int64
            )
            big = np.frombuffer(
                "".join(s or "" for s in texts).encode("utf-32-le"),
                dtype="<u4",
            ).astype(np.int64)
            mbig = big.size - 1
            if mbig <= 0:
                continue
            packed = (big[:mbig] << 21) + big[1 : mbig + 1]
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m_doc = np.maximum(lens - 1, 0)
            chunks = [
                packed[s : s + m] for s, m in zip(starts, m_doc) if m > 0
            ]
            if not chunks:
                continue
            u, cnt = np.unique(np.concatenate(chunks), return_counts=True)
            pairs = [chr(v >> 21) + chr(v & 0x1FFFFF) for v in u.tolist()]
            yield pa.RecordBatch.from_arrays(
                [pa.array(pairs, type=pa.string()), pa.array(cnt)],
                schema=out_schema,
            )

    partial = words.mapInArrow(count_batches, "pair string, c long")
    return (
        partial.groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_k)
    )


def _merge_tokens(tokens_col: str, left: str, right: str):
    """Leftmost-greedy non-overlapping merge of adjacent (left, right)
    token pairs via an ``aggregate`` accumulator — exactly iterative
    BPE semantics ([a,a,a] + (a,a) → [aa,a]), all codegen (no UDF).
    Literals are embedded with SQL single-quote escaping."""
    la = left.replace("'", "''")
    rb = right.replace("'", "''")
    return F.expr(
        f"""
        aggregate(
          {tokens_col},
          cast(array() as array<string>),
          (acc, t) -> IF(
            size(acc) > 0
              AND element_at(acc, size(acc)) = '{la}' AND t = '{rb}',
            concat(slice(acc, 1, size(acc) - 1), array('{la}{rb}')),
            concat(acc, array(t))))
        """
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """LEARN a BPE merge table (Sennrich et al. 2016): ``n_merges``
    iterations of count-adjacent-pairs → deterministic argmax
    (count DESC, pair ASC) → merge corpus-wide. Each iteration is one
    scan (explode pairs + one small count shuffle) and a 1-row collect
    of the winning pair — the driver loop carries only the merge
    table, never data.

    Trains over DISTINCT word TYPES weighted by occurrence frequency
    (the Sennrich formulation): pair counts are Σ freq(type) ·
    pairs-in-type, EXACTLY the per-occurrence counts, but the frame
    the merge loop rescans is |vocabulary| rows instead of corpus
    tokens — at 10 GB of text that is ~10⁵ types vs ~10⁹ occurrences,
    and the k-deep nested-HOF re-derivation stops being O(k²) passes
    over the corpus (a measured 1149 s → seconds at the sf1 bench
    point; the DuckDB oracle is unchanged because the counts are).

    Returns the learned table: (step, left, right, pair_count)."""
    from pyspark import StorageLevel

    words = docs.select(
        F.explode(
            F.expr(
                f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"
            )
        ).alias("w")
    ).where(F.length("w") >= 2)
    toks = (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("tokens"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    merges = []
    cur = toks
    for step in range(1, n_merges + 1):
        # size guard matters: sequence(1, 0) is DESCENDING in Spark,
        # so an unguarded 1-token word would index element_at(tokens, 0)
        # and throw under ANSI once merges collapse short words
        pairs = cur.where(F.size("tokens") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tokens) - 1),"
                    " i -> struct(element_at(tokens, i) AS l,"
                    "             element_at(tokens, i + 1) AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merges.append((step, l, r, int(n)))
        cur = cur.select(
            "freq", _merge_tokens("tokens", l, r).alias("tokens")
        )
        if step % 16 == 0:
            cur = cur.localCheckpoint(eager=False)
    toks.unpersist()
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_count bigint"
    )


# -- round-10: tokenizer APPLY paths at production dictionary sizes --


def _bpe_chain_pass(toks: list, a: str, b: str) -> list:
    """One left-to-right non-overlapping merge pass of (a, b),
    reproducing the DELIMITED-STRING semantics of the chained
    ``replace(' a b ', ' ab ')`` oracle exactly: in the string form a
    match consumes its trailing delimiter, so the pair starting at the
    very next token lacks a leading delimiter and cannot match — after
    merging (i, i+1) the earliest next match starts at (i+3, i+4).
    ``test_bpe_trie_twin`` fuzzes this equivalence against literal
    ``str.replace`` on random words."""
    out = []
    i = 0
    n = len(toks)
    while i < n:
        if i + 1 < n and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            if i + 2 < n:
                out.append(toks[i + 2])
            i += 3
        else:
            out.append(toks[i])
            i += 1
    return out


def _bpe_encode_n_tokens(word: str, merges: tuple, ranks: dict) -> int:
    """Token count of ``word`` under the ordered merge table, with
    cost INDEPENDENT of table size — the apply path for a production
    (30k+) vocabulary. The chained-replace form applies every rule
    unconditionally (one plan node / one string scan per rule: fine
    for the 8-rule demo table, unusable at 30k). Here only the ranks
    of pairs actually PRESENT in the word are visited, ascending via a
    heap (the rank-dict + heap structure real BPE tokenizers use);
    each merge can only create pairs involving its composite, whose
    rules sit LATER in any valid ordered merge table, so ascending
    ranks reproduce apply-each-rule-once-in-order semantics exactly.
    Cost: O(pairs-present x log) heap ops + O(len) per applied rule.
    """
    import heapq

    toks = list(word)
    heap = sorted(
        {ranks[p] for p in zip(toks, toks[1:]) if p in ranks}
    )
    done = set()
    while heap:
        r = heapq.heappop(heap)
        if r in done:
            continue
        done.add(r)
        a, b = merges[r]
        if not any(
            toks[i] == a and toks[i + 1] == b for i in range(len(toks) - 1)
        ):
            continue  # pair destroyed before its turn — the chain no-ops too
        toks = _bpe_chain_pass(toks, a, b)
        for p in zip(toks, toks[1:]):
            nr = ranks.get(p)
            if nr is not None and nr > r and nr not in done:
                heapq.heappush(heap, nr)
    return len(toks)


def _validate_merge_order(merges: tuple) -> None:
    """Raise ValueError unless ``merges`` is valid ordered: every rule
    that USES a composite token ranks strictly after the rule that
    CREATES it. With several creators of the same composite string,
    the LAST (highest-rank) creator is the binding one — all creators
    must precede every user for the heap's ascending-rank replay to
    equal the chained one-pass-per-rule form."""
    creator = {}  # composite string -> highest creating rank
    for r, (a, b) in enumerate(merges):
        creator[a + b] = r
    for r, (a, b) in enumerate(merges):
        for side in (a, b):
            cr = creator.get(side)
            if cr is not None and cr >= r:
                raise ValueError(
                    f"merge table is not valid ordered: rule {r} "
                    f"({a!r}, {b!r}) uses composite {side!r} created "
                    f"by rule {cr}; the creator must rank first"
                )


def bpe_encode_ranked(
    docs: DataFrame,
    merges: tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY a BPE merge table via an Arrow-batched rank-heap encoder
    — the scale twin of the chained-replace registry form
    (plans/queries_mlprep.text_bpe_encode, whose per-rule plan depth
    caps the table at demo size). Word extraction stays JVM-side
    (identical ``lower`` + ``regexp_extract_all`` to the chained twin,
    so the only Python surface is the encode step); the per-word
    encoder is LRU-cached across the Zipf-distributed word stream, and
    the whole path is one MapInPandas over the scan — zero shuffles
    before the caller's aggregation. Output: per-doc word/char-token/
    BPE-token counts + compression, bit-identical to the chained twin
    (same oracle, parity-tested).

    Precondition (validated at entry, round-11 advice): the merge
    table must be VALID ORDERED — any rule whose pair contains the
    composite ``a+b`` of rule (a, b) at rank r must itself have rank
    > r. BPE training produces this by construction (a pair can only
    become frequent after its parts exist); the rank-heap encoder
    relies on it to reproduce apply-each-rule-once-in-order semantics,
    so an arbitrary/hand-edited table raises loudly here instead of
    silently diverging from the chained-replace oracle."""
    import pandas as pd  # noqa: F401 — mapInPandas contract

    from pyspark.sql import functions as F

    _validate_merge_order(merges)
    ranks = {pair: i for i, pair in enumerate(merges)}
    words = docs.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)").alias(
            "_words"
        ),
    ).where(F.size("_words") > 0)

    def encode(batches):
        from functools import lru_cache

        @lru_cache(maxsize=65536)
        def n_tok(w: str) -> int:
            return _bpe_encode_n_tokens(w, merges, ranks)

        for pdf in batches:
            rows = []
            for doc_id, ws in zip(pdf[id_col], pdf["_words"]):
                rows.append(
                    (
                        doc_id,
                        len(ws),
                        sum(len(w) for w in ws),
                        sum(n_tok(w) for w in ws),
                    )
                )
            import pandas as pd

            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_words", "n_tokens_char", "n_tokens_bpe"],
            )

    out = words.mapInPandas(
        encode,
        schema=(
            f"{id_col} long, n_words long, n_tokens_char long, "
            "n_tokens_bpe long"
        ),
    )
    # rounding stays JVM-side (HALF_UP), matching the chained twin and
    # the DuckDB oracle exactly — Python round() is half-even
    return out.withColumn(
        "compression",
        F.round(
            F.col("n_tokens_char").cast("double") / F.col("n_tokens_bpe"), 6
        ),
    )


class _AhoCorasick:
    """Dictionary-matching automaton (Aho & Corasick 1975): goto trie
    + BFS failure links + output sets. One O(len) pass over the text
    finds every occurrence of every dictionary term — cost independent
    of dictionary size, vs one regex scan PER TERM in the literal
    registry form (fine at 10 terms, unusable at 10k)."""

    def __init__(self, terms):
        # Precondition (round-11 advice): the boundary check in
        # ``matches`` anchors \b at the term's FIRST and LAST chars
        # assuming both are ASCII word chars; a term with leading/
        # trailing punctuation would silently diverge from the
        # per-term \b-regex twin (regex \b next to a non-word char
        # anchors differently), so reject it loudly here.
        for term in terms:
            if not term or term[0] not in self._WORDCHAR or term[-1] not in self._WORDCHAR:
                raise ValueError(
                    f"dictionary term {term!r} must start and end with "
                    "an ASCII word character [0-9A-Za-z_] for \\b "
                    "boundary semantics to match the regex twin"
                )
        self.goto = [{}]
        self.out = [()]
        self.fail = [0]
        for term in terms:
            node = 0
            for ch in term:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append(())
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node] = self.out[node] + (term,)
        from collections import deque

        q = deque()
        for child in self.goto[0].values():
            q.append(child)
        while q:
            node = q.popleft()
            for ch, child in self.goto[node].items():
                q.append(child)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(ch, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child] = self.out[child] + self.out[self.fail[child]]

    def matches(self, text: str):
        """Set of dictionary terms occurring in ``text`` with RE2
        ``\\b`` word boundaries (ASCII [0-9A-Za-z_] on both sides)."""
        wordchar = self._WORDCHAR
        found = set()
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for term in self.out[node]:
                start = i - len(term) + 1
                if start > 0 and text[start - 1] in wordchar:
                    continue
                if i + 1 < len(text) and text[i + 1] in wordchar:
                    continue
                found.add(term)
        return found

    _WORDCHAR = frozenset(
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
    )


def keyword_tags_aho_corasick(
    docs: DataFrame,
    keywords: tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dictionary topic-tagging via one Aho-Corasick pass per document
    — the 10k-term scale twin of the literal filter-HOF registry form
    (plans/queries_mlprep.curation_keyword_tags: one regexp scan per
    term). ``lower`` stays JVM-side (same as the twin); the automaton
    builds once per executor from the broadcast-literal term tuple;
    matching is a single O(len) scan regardless of dictionary size,
    with RE2-compatible ASCII word-boundary verification at each hit.
    Tags join in dictionary order — identical output contract and
    oracle as the literal form."""
    from pyspark.sql import functions as F

    lowered = docs.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_lo")
    )
    order = {k: i for i, k in enumerate(keywords)}

    def tag(batches):
        import pandas as pd

        ac = _AhoCorasick(keywords)
        for pdf in batches:
            tags = []
            for text in pdf["_lo"]:
                hits = sorted(
                    ac.matches(text or ""), key=order.__getitem__
                )
                tags.append((",".join(hits), len(hits)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "tags": [t[0] for t in tags],
                    "n_tags": [t[1] for t in tags],
                }
            )

    return lowered.mapInPandas(
        tag, schema=f"{id_col} long, tags string, n_tags long"
    )


class _VocabTrie:
    """Prefix trie over a fixed subword vocabulary for greedy
    LONGEST-MATCH tokenization (the WordPiece/tokenizer APPLY walk):
    at each position descend as deep as the input matches, remember
    the deepest terminal, emit it, advance by its length. One O(len x
    max_token_len) walk per word, independent of vocabulary size —
    the structure a 30k-entry vocab needs (a per-token scan is one
    regex/substr probe PER VOCAB ENTRY per position)."""

    def __init__(self, vocab):
        self.root = {}
        for tok in vocab:
            node = self.root
            for ch in tok:
                node = node.setdefault(ch, {})
            node["$"] = True  # terminal marker; '$' is not a letter

    def n_tokens(self, word: str) -> int:
        """Greedy longest-match token count. Precondition (shared with
        the SQL oracle): every single character of ``word`` is in the
        vocabulary, so a match always exists and the walk advances."""
        n = 0
        i = 0
        L = len(word)
        while i < L:
            node = self.root
            best = 0
            j = i
            while j < L:
                node = node.get(word[j])
                if node is None:
                    break
                j += 1
                if "$" in node:
                    best = j - i
            if best == 0:
                raise ValueError(
                    f"no vocab token matches at {word[i:]!r} — the "
                    "vocabulary must cover every single character"
                )
            n += 1
            i += best
        return n


def vocab_tokenize_greedy(
    docs: DataFrame,
    vocab: tuple,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy longest-match subword tokenization of every [a-z]+ word
    against a fixed vocabulary — the WordPiece-style APPLY pass of a
    trained tokenizer, as one Arrow-batched MapInPandas over the scan
    (zero shuffles). Word extraction stays JVM-side (same lower +
    regexp as the BPE twins); the trie builds once per executor; the
    per-word walk is LRU-cached across the Zipf word stream. Output
    per doc: word count, greedy token count, tokens/word — matched
    exactly by a DuckDB RECURSIVE-CTE oracle that advances each word
    by MAX(length(tok)) over matching vocab entries (identical greedy
    semantics, engine-independently deterministic because the longest
    matching token is unique per position)."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import functions as F

    words = docs.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)").alias(
            "_words"
        ),
    ).where(F.size("_words") > 0)

    def tokenize(batches):
        from functools import lru_cache

        trie = _VocabTrie(vocab)
        n_tok = lru_cache(maxsize=65536)(trie.n_tokens)
        import pandas as pd

        for pdf in batches:
            rows = [
                (doc_id, len(ws), sum(n_tok(w) for w in ws))
                for doc_id, ws in zip(pdf[id_col], pdf["_words"])
            ]
            yield pd.DataFrame(
                rows, columns=[id_col, "n_words", "n_tokens"]
            )

    out = words.mapInPandas(
        tokenize, schema=f"{id_col} long, n_words long, n_tokens long"
    )
    return out.withColumn(
        "tokens_per_word",
        F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 6),
    )

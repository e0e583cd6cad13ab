"""Deduplication operators over a text corpus (SURVEY.md §2.13).

Four tiers, all shuffle-conscious:

- exact        — hash-groupBy on a text fingerprint. One shuffle on
                 the fingerprint; survivor = min doc_id.
- minhash_lsh  — shingles → k MinHash signatures → band buckets →
                 candidate pairs via per-bucket self-join → Jaccard
                 verify. Never computes the O(n²) cross join; at 100 TB
                 the band-bucket join is the only shuffle and skewed
                 buckets are AQE-split.
- simhash      — 64-bit SimHash from token hashes; near-dups = equal
                 bucket keys on rotated prefixes (hamming ≤ k proxy).
- ngram_jaccard— exact Jaccard on character n-grams for candidate
                 pairs produced by any blocking key.

MinHash here is hand-rolled (a·h+b mod p over murmur3 token hashes)
rather than ``ml.feature.MinHashLSH`` so signatures are deterministic
column expressions — no ML pipeline fit step, no vector assembly, and
the whole thing stays inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_001_spark.functions.text import fingerprint

# Mersenne prime 2^31-1: with base hashes and coefficients < 2^31 the
# products stay under 2^62 — no long overflow under Spark 4 ANSI mode
_MERSENNE = (1 << 31) - 1


def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal hash functions."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(k)]


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: fingerprint → min id survives.

    Returns (fingerprint, n_copies, keep_id) for every distinct text.
    """
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated corpus (one row per distinct text)."""
    from pyspark.sql import Window

    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return docs.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def exploded_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id, sh) — one row per distinct word n-gram shingle.

    Built as posexplode(tokens) → window lead() → concat, NOT as
    array higher-order functions: Spark evaluates transform/slice
    lambdas interpreted (no codegen), which measured ~1 ms/doc; the
    exploded form stays in codegen with one shuffle on the doc id.
    """
    from pyspark.sql import Window

    from data_pipeline_001_spark.functions.text import normalize_text

    toks = F.split(normalize_text(F.col(text_col)), r"\s+")
    exploded = docs.select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    total = F.count("*").over(Window.partitionBy("id"))
    grams = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        exploded.select(
            "id",
            F.col("pos"),
            F.concat_ws(" ", *grams).alias("sh"),  # concat_ws skips nulls
            F.lead("tok", n - 1).over(w).alias("_last"),
            total.alias("_total"),
        )
        # complete shingles only — except docs shorter than n words,
        # which contribute their single partial shingle at pos 0
        # (matches word_shingles' short-doc behavior)
        .where(F.col("_last").isNotNull() | ((F.col("pos") == 0) & (F.col("_total") < n)))
        .select("id", "sh")
        # no distinct(): both consumers (min-agg signatures, collect_set
        # verify) are duplicate-insensitive — a distinct here would add
        # a full extra shuffle for nothing
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_words: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>) — MinHash over word shingles.

    Token base hash = murmur3 (``F.hash``) mapped to non-negative;
    sig_i = min over shingles of (aᵢ·h + bᵢ) mod p.

    Shape note: shingles are exploded ONCE (codegen path, see
    ``exploded_shingles``) and all k minhashes are computed in a
    single groupBy pass. The tempting pure-expression form (k ×
    transform+array_min over a shingle array column) re-evaluates the
    tokenize/shingle subtree k times AND runs interpreted — measured
    ~20× slower at 5k docs and grows with k.
    """
    params = _hash_params(num_hashes, seed)
    exploded = exploded_shingles(docs, text_col, id_col, shingle_words).select(
        "id", (F.abs(F.hash("sh")).cast("long") % F.lit(_MERSENNE)).alias("h")
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"s{i}")
        for i, (a, b) in enumerate(params)
    ]
    return exploded.groupBy("id").agg(*aggs).select(
        "id", F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH, verified
    with exact shingle Jaccard. Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    ``max_bucket_size`` drops band-buckets larger than the cap before
    the self-join: an oversized bucket means a near-universal shingle
    pattern (low information) and is exactly what makes naive LSH
    quadratic on skewed corpora. True near-dup pairs collide in
    *multiple* bands, so dropping one bloated band rarely loses them —
    and at 100 TB this cap is the difference between a bounded
    per-bucket join and an O(n²) blowup.
    """
    # ONE shingle explode + ONE groupBy(id) shuffle feeds both the
    # minhash signatures and the exact-verify shingle sets. The three
    # consumers (banding, verify id_a, verify id_b) prune different
    # columns, so plan-level ReusedExchange can't kick in — persist the
    # per-doc table instead (one row per doc: 32 longs + shingle set;
    # MEMORY_AND_DISK so a 100 TB corpus spills rather than OOMs, and
    # far smaller than re-exploding the corpus per consumer).
    # Round-11: the per-doc pass and the pair extraction are split so
    # the streaming fold sink (minhash_signature_stream_sink) can
    # maintain the per-doc table incrementally and share the EXACT
    # extraction code — per-doc rows are a pure per-document function,
    # the associative/fold-able half of the operator.
    per_doc = _minhash_per_doc(
        docs, text_col, id_col, num_hashes, shingle_words, seed
    )
    # bounded_intermediate: a MEMORY_AND_DISK persist that lasts for
    # the session (one entry per distinct plan; see operators/_scoped)
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    per_doc = bounded_intermediate(per_doc)
    return minhash_pairs_from_per_doc(
        per_doc,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
    )


def minhash_pairs_from_per_doc(
    per_doc: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Near-dup pairs from a (id, sig, sh_set) per-doc minhash table —
    the extraction half of ``minhash_lsh_pairs``, shared verbatim by
    the batch operator and the streaming-maintained signature table
    (the per-doc table is the fold state; banding, the bucket-capped
    pair generation, and the exact Jaccard verify are deterministic
    functions of it, so stream and batch agree row for row)."""
    rows_per_band = num_hashes // bands
    banded = _banded_buckets(per_doc.select("id", "sig"), bands, rows_per_band)

    if max_bucket_size:
        # ONE derivation of the banded table generates in-bucket
        # pairs. The round-10 shape (count() window for the cap, then
        # a (band,bucket) self-join) derived the banded table TWICE —
        # once per join side, each paying the band explode + exchange
        # + sort — plus the join itself. sort_array gives id_a < id_b
        # positionally, matching the old join predicate l.id < r.id.
        # round-12 (ADVICE): filter oversized buckets BEFORE collect_list
        # — the round-11 form applied the size cap to the aggregated
        # array, so an adversarially skewed bucket materialized whole in
        # one non-spillable aggregation buffer before being dropped. A
        # count WINDOW over the same (band,bucket) partitioning (the
        # pattern minhash_incremental already uses) buffers spillably
        # in WindowExec, drops oversized buckets, and the groupBy then
        # reuses the window's exchange — one derivation, one shuffle,
        # and the collect_list buffer is genuinely bounded by the cap.
        from pyspark.sql import Window

        wb = Window.partitionBy("band", "bucket")
        buckets = (
            banded.withColumn("_n", F.count("*").over(wb))
            .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
            .groupBy("band", "bucket")
            .agg(F.collect_list("id").alias("ids"))
            .select(F.sort_array("ids").alias("ids"))
        )
        candidates = (
            buckets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (a, i) -> "
                        "transform(slice(ids, i + 2, size(ids) - i - 1), "
                        "b -> struct(a AS id_a, b AS id_b))))"
                    )
                ).alias("p")
            )
            .select("p.id_a", "p.id_b")
            .distinct()
        )
    else:
        # uncapped path: keep the join form — an unbounded bucket must
        # stream through the join, never into one aggregation buffer
        left = banded.alias("l")
        right = banded.alias("r")
        candidates = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )

    sh = per_doc.select("id", F.col("sh_set").alias("sh"))
    return (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        # |A∪B| = |A|+|B|-|A∩B| over collect_set outputs (distinct by
        # construction) — same exact integers as size(array_union), one
        # O(|A|+|B|) set op per pair instead of two
        .withColumn(
            "_i", F.size(F.array_intersect("sh_a", "sh_b"))
        )
        .withColumn(
            "jaccard",
            F.col("_i").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("_i")).cast(
                "double"
            ),
        )
        .drop("_i")
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, sig long) — 64-bit SimHash from murmur3 token hashes.

    For each bit position, sum +1/-1 over tokens by that bit of the
    token hash; the sign of the sum is the signature bit. Tokens are
    exploded once and all 64 bit-sums aggregate in one groupBy pass
    (same de-duplication-of-work rationale as minhash_signatures).
    """
    from data_pipeline_001_spark.functions.text import normalize_text, whitespace_tokens

    toks = whitespace_tokens(normalize_text(F.col(text_col)))
    exploded = docs.select(
        F.col(id_col).alias("id"), F.explode(toks).alias("tok")
    ).select("id", F.hash("tok").cast("long").alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agged = exploded.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        # shiftleft instead of a (1 << i) literal — bit 63 overflows a
        # long literal but is fine as a JVM shift
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return agged.select("id", sig.alias("sig"))


def simhash_near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    max_block_size: int = 200,
) -> DataFrame:
    """Near-dup candidates: documents sharing a SimHash prefix block.

    Blocking on 4 rotated prefix blocks approximates hamming ≤ 3 over
    64 bits (pigeonhole); returns (id_a, id_b, hamming). Oversized
    blocks are dropped (same skew-cap rationale as minhash_lsh_pairs).
    """
    sigs = simhash_signatures(docs, text_col, id_col)
    blocks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned("sig", i * prefix_bits)
                        .bitwiseAND(F.lit((1 << prefix_bits) - 1))
                        .alias("key"),
                    )
                    for i in range(64 // prefix_bits)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", "bk.block", "bk.key")
    if max_block_size:
        # round-11: one aggregation derives blocks, applies the size
        # cap, and generates in-block pairs — the same shape as
        # minhash_pairs_from_per_doc, replacing the count() window +
        # self-join whose two sides each re-derived the WHOLE
        # signature pipeline (token explode + 64 bit-sums).
        # sort_array over struct(id, sig) orders by the unique id, so
        # positional pairs match the old l.id < r.id predicate.
        # Round-12 (ADVICE): the size cap moved BEFORE collect_list —
        # a count WINDOW on the same (block,key) partitioning buffers
        # spillably, drops oversized blocks, and the groupBy reuses
        # the window's exchange, so the aggregation buffer is bounded
        # by the cap, not by the largest adversarial block (and the
        # signature pipeline is still derived exactly once).
        from pyspark.sql import Window

        wb = Window.partitionBy("block", "key")
        buckets = (
            blocks.withColumn("_n", F.count("*").over(wb))
            .where((F.col("_n") >= 2) & (F.col("_n") <= max_block_size))
            .groupBy("block", "key")
            .agg(F.collect_list(F.struct("id", "sig")).alias("xs"))
            .select(F.sort_array("xs").alias("xs"))
        )
        pairs = (
            buckets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(xs, (a, i) -> "
                        "transform(slice(xs, i + 2, size(xs) - i - 1), "
                        "b -> struct(a.id AS id_a, b.id AS id_b, "
                        "a.sig AS sig_a, b.sig AS sig_b))))"
                    )
                ).alias("p")
            )
            .select(
                "p.id_a",
                "p.id_b",
                F.bit_count(
                    F.col("p.sig_a").bitwiseXOR(F.col("p.sig_b"))
                ).alias("hamming"),
            )
            .distinct()
        )
        return pairs
    l, r = blocks.alias("l"), blocks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.35,
    block_col: str | None = None,
) -> DataFrame:
    """Exact character-n-gram Jaccard over blocked pairs.

    ``block_col`` limits the self-join (e.g. ``lang``); without it the
    corpus self-joins — acceptable only on small inputs, and the
    reason the LSH paths above exist.
    """
    from pyspark.sql import Window

    from data_pipeline_001_spark.functions.text import normalize_text

    from pyspark.sql import types as _T

    if n <= 3 and isinstance(
        docs.schema[id_col].dataType, (_T.IntegralType,)
    ):
        # round-11: an n<=3 char gram packs BIJECTIVELY into one
        # int64 (each codepoint <= 0x10FFFF fits 21 bits; n*21 <= 63),
        # so gram sets become long arrays — identical distinct/
        # intersect/union SIZES by bijection, hence identical Jaccard,
        # but the per-pair array_intersect runs over longs instead of
        # hashing ~n-char strings per element (the dominant cost of
        # the pairwise stage). The packed grams are exactly the
        # char_kgram_hashes polynomial with base 2^21 and a modulus
        # (2^63-1) the values never reach — no reduction ever fires,
        # so this is packing, not hashing: NO collision class exists.
        # That also swaps the per-char posexplode + Window lead build
        # for the vectorized Arrow pass.
        from data_pipeline_001_spark.operators.text_analysis import (
            char_kgram_hashes,
        )

        packed = char_kgram_hashes(
            docs, text_col, id_col, k=n, base=1 << 21, mod=(1 << 63) - 1
        )
        blk = docs.select(
            F.col(id_col).cast("long").alias("id"),
            *(
                [F.col(block_col).alias("blk")]
                if block_col
                else [F.lit(1).alias("blk")]
            ),
        )
        grams = (
            packed.groupBy("id")
            .agg(F.collect_set("hk").alias("g"))
            .join(blk, "id")
        )
    else:
        # char n-grams via posexplode + lead (codegen), not the
        # transform/substring array form (interpreted HOF — see
        # exploded_shingles for the measured cost of that trap)
        chars = docs.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")]),
            F.posexplode(F.split(normalize_text(F.col(text_col)), "")).alias("pos", "ch"),
        ).where(F.col("ch") != "")
        w = Window.partitionBy("id").orderBy("pos")
        gram = F.concat(*([F.col("ch")] + [F.lead("ch", j).over(w) for j in range(1, n)]))
        grams = (
            chars.select("id", "blk", gram.alias("g1"))
            .where(F.length("g1") == n)  # tail rows have NULL leads → NULL concat, dropped
            .groupBy("id", "blk")
            .agg(F.collect_set("g1").alias("g"))
        )
    # materialize before the self-join (round-11; same discipline as
    # minhash_lsh_pairs' per-doc table): re-derived lazily, BOTH join
    # sides re-run the whole gram build, and with unknown stats the
    # planner shuffle-joins on the low-cardinality block key —
    # parallelism collapses to the number of blocks (4 langs at the
    # 2k slice) on exactly the quadratic stage. With the per-doc
    # table materialized and its stats known, the small side
    # broadcasts and the pairwise stage stays scan-parallel. Measured
    # at the 2k slice: 30.0 → 7.6 s best-of-3. The persist lives in
    # operators/_scoped.bounded_intermediate.
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    grams = bounded_intermediate(grams)
    l, r = grams.alias("l"), grams.alias("r")
    return (
        l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")))
        # size-identity union (collect_set arrays are distinct): one
        # set op per pair instead of intersect + union
        .withColumn("_i", F.size(F.array_intersect("l.g", "r.g")))
        .withColumn(
            "jaccard",
            F.col("_i").cast("double")
            / (F.size("l.g") + F.size("r.g") - F.col("_i")).cast(
                "double"
            ),
        )
        .drop("_i")
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    # 2M, not 10M: same driver-pressure arithmetic as graph.pagerank
    # (round-12, ADVICE) — per-round broadcasts collect the node-sized
    # table through the driver, and the JVM overhead is several x the
    # on-wire size
    broadcast_nodes_max: int = 2_000_000,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters: (doc_id, cluster_id)
    where cluster_id = min doc id of the connected component — the
    step after pair generation that corpus dedup actually needs
    ("keep one document per near-dup cluster").

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels; converges in O(component
    diameter) rounds. Near-dup components are overwhelmingly small
    (dups of one source document), so the loop exits after 2-3 rounds
    on real corpora; each round is one join + one aggregation, with
    ``localCheckpoint`` truncating the plan lineage so iteration N
    doesn't re-execute rounds 1..N-1. For adversarially long chains at
    extreme scale the same loop structure takes the large-star/
    small-star optimization (O(log n) rounds).

    Round-11 (guide §2.4/§3.1, the pagerank treatment): the node-sized
    labels table is broadcast into the per-round edge join when the
    node count (one cheap action on the materialized table) is under
    ``broadcast_nodes_max`` — the edge-sized side then never
    re-exchanges, leaving one Θ(m) exchange per round (the min-label
    groupBy), and the symmetric edge set is materialized ONCE instead
    of re-deriving the union from the directed half every round. The
    convergence probe exploits monotonicity: labels only ever
    DECREASE, so Σ label (exact decimal sum) is strictly decreasing
    until convergence and one aggregation replaces the old
    changed-count join per round. Measured at sf1
    (graph_component_sizes, 200k nodes / 2.5M weight≥2 edges):
    9.1 → 5.4 s same-session best-of-3.
    """
    # materialize the PAIR set once, then derive both edge directions
    # from the checkpoint: pairs is typically an expensive near-dup
    # join (LSH verify / blocked Jaccard), and the old form
    # (union-then-checkpoint) embedded that join subtree TWICE in one
    # plan — Spark executed the verify join once per union branch
    # (round-11 sweep attribution: ~3-5 s of the
    # dedup_cluster_components_lsh elevation). Checkpointing the
    # directed half first makes the union two scans of a small
    # in-memory table, and the loop's per-round joins read the same
    # checkpoint.
    pairs_ck = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint()
    # materialize the symmetric set once (pairs_ck is already
    # in-memory, so this union scans it twice exactly once — the
    # pre-03e3393 double-execution of the verify join cannot recur)
    edges = pairs_ck.unionByName(
        pairs_ck.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    bcast = labels.count() <= broadcast_nodes_max

    def label_sum(df: DataFrame):
        # exact decimal sum: labels only decrease, so equality with
        # the previous round's sum IS convergence; decimal(38,0)
        # cannot overflow at any realistic id scale
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = label_sum(labels)
    for _ in range(max_iterations):
        lab = F.broadcast(labels) if bcast else labels
        nbr_min = (
            edges.join(lab, edges.src == lab.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        nbr = F.broadcast(nbr_min) if bcast else nbr_min
        new_labels = (
            labels.join(nbr, labels.node == nbr.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_incremental(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: admit only NEW-batch documents whose
    normalized-text fingerprint (a) is unique within the batch (min id
    survives) and (b) does not already exist in the corpus.

    This is the steady-state shape of a production ingest: the corpus
    is the 100 TB accumulated side, the batch is the small daily
    delta. Within-batch dedup shuffles only the batch; the
    batch-vs-corpus check is a LEFT ANTI join keyed on the 32-char
    fingerprint — Spark shuffles both sides on fp, but the corpus side
    is a 1-column projection pushed to the parquet scan, and AQE
    converts the probe to broadcast when the surviving batch is small.

    Returns (fp, keep_id, n_in_batch) for each admitted document.
    """
    batch_min = (
        new_batch.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_in_batch"),
        )
    )
    corpus_fps = corpus.select(fingerprint(F.col(text_col)).alias("fp"))
    return batch_min.join(corpus_fps, "fp", "left_anti")


def _minhash_per_doc(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_words: int,
    seed: int,
) -> DataFrame:
    """(id, sig array<long>, sh_set array<long>) — one explode + one
    groupBy per corpus, signatures and hashed-shingle verify sets in
    the same pass (the minhash_lsh_pairs shape, reusable)."""
    params = _hash_params(num_hashes, seed)
    exploded = exploded_shingles(docs, text_col, id_col, shingle_words).select(
        "id",
        (F.abs(F.hash("sh")).cast("long") % F.lit(_MERSENNE)).alias("h"),
    )
    per_doc = exploded.groupBy("id").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"s{i}")
            for i, (a, b) in enumerate(params)
        ],
        F.collect_set("h").alias("sh_set"),
    )
    return per_doc.select(
        "id",
        F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig"),
        "sh_set",
    )


def _banded_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) — banded LSH bucket keys from signatures."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.element_at("sig", i * rows_per_band + j + 1).cast("string")
                                for j in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_incremental(
    new_batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    max_bucket_size: int = 100,
) -> DataFrame:
    """Incremental NEAR-dup admission: for each new-batch document,
    find its best near-duplicate already in the corpus (banded
    MinHash-LSH candidates → exact hashed-shingle Jaccard) and admit
    it only if nothing clears ``jaccard_threshold`` — the steady-state
    ingest gate that `dedup_incremental` (exact fingerprints) can't
    provide for paraphrased/near-copy spam.

    Scale shape: the corpus NEVER self-joins. Batch bands (the daily
    delta — small) broadcast against the corpus banding, so corpus
    rows flow map-side through the candidate probe exactly once; only
    candidate (batch, corpus) pairs shuffle into the verify join. The
    corpus signatures/banding are deterministic functions of the text,
    so in production they're computed once and reused across batches.

    Returns (doc_id, best_match_id, best_jaccard, admitted) — one row
    per new-batch doc; best_* are NULL when no candidate collided.
    """
    rows_per_band = num_hashes // bands

    batch_pd = _minhash_per_doc(
        new_batch, text_col, id_col, num_hashes, shingle_words, seed
    )
    from data_pipeline_001_spark.operators._scoped import (
        bounded_intermediate,
    )

    batch_pd = bounded_intermediate(batch_pd)
    corpus_pd = _minhash_per_doc(
        corpus, text_col, id_col, num_hashes, shingle_words, seed
    )

    batch_bands = _banded_buckets(
        batch_pd.select("id", "sig"), bands, rows_per_band
    ).withColumnRenamed("id", "batch_id")
    corpus_bands = _banded_buckets(
        corpus_pd.select("id", "sig"), bands, rows_per_band
    ).withColumnRenamed("id", "corpus_id")

    if max_bucket_size:
        from pyspark.sql import Window

        wb = Window.partitionBy("band", "bucket")
        corpus_bands = (
            corpus_bands.withColumn("_bsz", F.count("*").over(wb))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )

    candidates = (
        corpus_bands.join(F.broadcast(batch_bands), ["band", "bucket"])
        .select("batch_id", "corpus_id")
        .distinct()
    )

    inter = F.size(F.array_intersect("b_set", "c_set")).cast("double")
    # size-identity union (collect_set arrays are distinct): exact
    # same integer as size(array_union), without the second set op
    union = (
        F.size("b_set") + F.size("c_set")
    ).cast("double") - inter
    scored = (
        candidates.join(
            corpus_pd.select(
                F.col("id").alias("corpus_id"), F.col("sh_set").alias("c_set")
            ),
            "corpus_id",
        )
        .join(
            F.broadcast(
                batch_pd.select(
                    F.col("id").alias("batch_id"),
                    F.col("sh_set").alias("b_set"),
                )
            ),
            "batch_id",
        )
        .select(
            "batch_id",
            "corpus_id",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("batch_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("batch_id").alias("doc_id"),
            F.col("corpus_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    return (
        new_batch.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "best_match_id",
            "best_jaccard",
            F.when(
                F.coalesce(F.col("best_jaccard"), F.lit(0.0))
                < jaccard_threshold,
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("admitted"),
        )
    )

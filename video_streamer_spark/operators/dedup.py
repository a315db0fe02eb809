"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

All four are pure DataFrame compositions (no Python UDFs) so they run
entirely inside whole-stage codegen and scale by shuffle:

- **exact**: hash-groupBy on the normalized text — one shuffle on the
  group key; at 100 TB group on md5(text) instead of the full text so the
  shuffle carries 32-byte keys, not document bodies.
- **minhash-lsh**: shingle → per-seed min-hash → band → bucket self-join.
  The only shuffles are the signature groupBy (by doc) and the band
  bucket join (by band value). Candidate pairs are generated per bucket,
  never all-pairs — the classic Broder scheme, linear in corpus size for
  bounded bucket width.
- **simhash**: token-hash bit voting → 32-bit fingerprint; near-dup pairs
  via hamming distance on the fingerprint. Fingerprinting is a per-doc
  aggregation (one shuffle); pairing here is a small self-join — at 100 TB
  you'd block on a fingerprint prefix first (prefix join ≈ LSH band).
- **ngram-jaccard**: distinct shingles as an inverted index, pair counts
  by shingle co-occurrence (shuffle on shingle), Jaccard from per-doc set
  sizes. Document-frequency cutoff drops stop-shingles, which is both a
  quality and a skew guard (a shingle in k docs emits k² pair rows).

Hash choices are dictated by DuckDB-oracle reproducibility, not speed:
exact-dedup, simhash, and fingerprints use md5 hex strings (identical
text → identical hex in both engines). Min-hashes are NOT md5 strings:
``minhash_signatures`` slices each salted sha256 digest into four
independent 56-bit integers (14 hex chars apiece, cast to BIGINT) and
takes min() over the integers — 4 hash functions per digest at one
hash cost, with none of the correlated-min pathology of the
Kirsch–Mitzenmacher double-hash scheme (measured: correlated mins
inflated the candidate set ~16× on the test corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from video_streamer_spark.catalog import scatter
from video_streamer_spark.functions.caching import bounded_persist, pooled

NUM_MINHASH = 8          # permutations (seeded md5 salts)
MINHASH_BAND_ROWS = 2    # rows per LSH band → 4 bands
DEFAULT_SHINGLE = 3      # tokens per shingle


def tokens_sql(text: str) -> str:
    """The tokenizer as a SQL fragment, for callers composing larger
    string projections (single gateway round-trip per select)."""
    return f"filter(split(`{text}`, ' '), x -> x != '')"


def tokens_col(text: Column | str) -> Column:
    # String-name path builds ONE SQL expression (single Py4J round
    # trip); Python-lambda HOFs cost ~10 ms of gateway traffic each at
    # construction time (profiled in the round-6 floor study, PLANS.md)
    # for the identical analyzed plan.
    if isinstance(text, str):
        return F.expr(tokens_sql(text))
    return F.filter(F.split(text, " "), lambda x: x != "")


def shingles_col(text: Column | str, k: int = DEFAULT_SHINGLE) -> Column:
    """k-token shingles as space-joined strings (empty array if < k tokens)."""
    if isinstance(text, str):
        toks = f"filter(split(`{text}`, ' '), x -> x != '')"
        return F.expr(
            f"CASE WHEN size({toks}) >= {k} THEN "
            f"transform(sequence(1, size({toks}) - {k - 1}),"
            f" i -> concat_ws(' ', slice({toks}, i, {k}))) "
            "ELSE CAST(array() AS array<string>) END"
        )
    toks_c = tokens_col(text)
    n = F.size(toks_c)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks_c, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --------------------------------------------------------------------------
# exact dedup


def exact_dedup_stats(docs: DataFrame) -> DataFrame:
    """Per-language doc/distinct/duplicate counts (declared Q16)."""
    return docs.groupBy("lang").agg(
        F.expr("count(*) AS n_docs"),
        F.expr("count(DISTINCT text) AS n_distinct"),
        F.expr("count(*) - count(DISTINCT text) AS n_dupes"),
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Canonical survivor per duplicate group: min(doc_id) per text hash.

    Grouping on md5(text) keeps the shuffle key fixed-width; the text
    itself never moves (only doc_id + hash), which is what makes this
    viable when documents are MBs.
    """
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("group_size"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = NUM_MINHASH,
    shingle_k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """One row per doc with columns mh_0..mh_{n-1} (BIGINT min-hashes).

    Permutation i is min over shingles of a 56-bit integer slice of
    sha256(seed || shingle): one sha256 yields FOUR independent 14-hex
    slices, so 8 permutations cost 2 hash calls per shingle instead of 8.
    Disjoint bit ranges of a cryptographic hash are independent, which is
    what LSH banding needs — unlike a Kirsch–Mitzenmacher double-hash
    (g_i = h1 + i·h2), which was tried and rejected: the per-permutation
    mins correlate through their shared argmin shingle, one hot shingle
    wins every band, and candidate pairs blow up ~16×. Integer mins beat
    hex-string mins in both agg CPU and band-key width.

    The explode→groupBy is one shuffle keyed by doc id, with map-side
    partial min aggregation shrinking the exchange to one row per
    (doc, seed). No distinct on (doc, shingle): min() is
    duplicate-insensitive, and a pre-dedup would cost a second full
    shuffle for nothing.
    """
    exploded = scatter(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(text_col, shingle_k)).alias("shingle"),
    )
    slices_per_hash = 4  # 64 hex chars → 4 × 14-hex (56-bit) slices
    # SQL-string columns, not a Column-op loop: 32 conv(substring(sha2))
    # trees built through Py4J cost ~0.2 s of driver latency per
    # construction (~6 gateway round-trips each); one selectExpr is one
    # round-trip for the whole projection, same analyzed plan.
    exprs = []
    for s in range(num_hashes):
        seed, piece = divmod(s, slices_per_hash)
        exprs.append(
            f"CAST(conv(substring(sha2(concat('{seed}:', shingle), 256),"
            f" {1 + piece * 14}, 14), 16, 10) AS BIGINT) AS g_{s}"
        )
    hashed = exploded.selectExpr("doc_id", *exprs)
    aggs = [F.expr(f"min(g_{s})").alias(f"mh_{s}") for s in range(num_hashes)]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_bands(sigs: DataFrame, band_rows: int = MINHASH_BAND_ROWS) -> DataFrame:
    """Signature → (doc_id, band_idx, band_val) rows for bucket joining."""
    mh_cols = sorted(
        (c for c in sigs.columns if c.startswith("mh_")),
        key=lambda c: int(c.split("_")[1]),
    )
    if len(mh_cols) % band_rows != 0:
        raise ValueError(
            f"band_rows={band_rows} must divide num_hashes={len(mh_cols)}; "
            "a remainder would silently drop trailing signature columns "
            "and quietly degrade candidate recall"
        )
    n_bands = len(mh_cols) // band_rows
    # one SQL expression for the whole band array (the concat_ws loop
    # was ~40 Py4J calls of construction latency; same analyzed plan)
    band_exprs = ", ".join(
        "concat_ws('|', "
        + ", ".join(mh_cols[b * band_rows + r] for r in range(band_rows))
        + ")"
        for b in range(n_bands)
    )
    return sigs.selectExpr(
        "doc_id",
        f"posexplode(array({band_exprs})) AS (band_idx, band_val)",
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = NUM_MINHASH,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b) with band-hit count.

    The bucket self-join shuffles on (band_idx, band_val) — at scale a
    hot bucket (boilerplate docs) is the skew risk; AQE skew-join splits
    it, and a bucket-width cap would bound the worst case.
    """
    if num_hashes % band_rows != 0:
        raise ValueError(
            f"band_rows={band_rows} must divide num_hashes={num_hashes}; "
            "a remainder would silently drop trailing signature columns "
            "and quietly degrade candidate recall"
        )
    # FUSED signature→band construction (r14): the minhash_bands(
    # minhash_signatures(...)) composition plans the identical
    # aggregate, but pays 32 F.expr parse round trips plus two extra
    # DataFrame analysis layers of construction latency per bench rep.
    # Building the band array directly inside the aggregate —
    # concat_ws over the same min(g_s) aggregates, one F.expr — yields
    # byte-identical (doc_id, band_idx, band_val) rows (min() values
    # and band grouping unchanged; the public operators stay the
    # composable API and their parity is pinned by tests).
    exploded = scatter(docs).select(
        F.col("doc_id"),
        F.explode(shingles_col("text", shingle_k)).alias("shingle"),
    )
    slices_per_hash = 4
    g_exprs = []
    for s in range(num_hashes):
        seed, piece = divmod(s, slices_per_hash)
        g_exprs.append(
            f"CAST(conv(substring(sha2(concat('{seed}:', shingle), 256),"
            f" {1 + piece * 14}, 14), 16, 10) AS BIGINT) AS g_{s}"
        )
    # the g_s projection stays a separate Project so whole-stage
    # codegen's subexpression elimination computes each sha2 ONCE for
    # its four slices (inlining it under min() would rely on aggregate-
    # side CSE instead)
    hashed = exploded.selectExpr("doc_id", *g_exprs)
    n_bands = num_hashes // band_rows
    band_arr = ", ".join(
        "concat_ws('|', "
        + ", ".join(
            f"min(g_{b * band_rows + r})" for r in range(band_rows)
        )
        + ")"
        for b in range(n_bands)
    )
    # Bucket-grouped pair expansion, not a self-join (r14): group the
    # band rows by bucket, collect the bucket's sorted doc ids ONCE,
    # and expand in-bucket pairs with two streamed Generates. The
    # previous persist + self-join form paid three extra jobs per run
    # (persist materialization, broadcast build, and the join read-back
    # through the cache) for the identical pair set — and at real scale
    # the band table outgrows any broadcast, so the join degrades to
    # TWO exchanges of the band rows plus a sort, where this shape
    # shuffles them once. Pair semantics are unchanged: each bucket
    # holds a doc at most once (one row per (doc, band_idx)), sorted
    # expansion emits exactly the doc_a < doc_b pairs, and the final
    # count per pair is the number of shared buckets. Peak memory per
    # bucket is the id array (k elements), not k² — the pair stream
    # comes from nested Generates, and the k² OUTPUT rows are inherent
    # to LSH banding (same as the join form), bounded in practice by
    # bucket width; a hot boilerplate bucket is AQE-skew / width-cap
    # territory in both shapes.
    # ONE spark.sql pass for the whole expansion (r14): the six-layer
    # chain re-ran the analyzer over the 32-min aggregate tree once per
    # layer; a single CTE chain analyzes once and plans identically.
    # slice(ids, 1, size-1) is empty for single-doc buckets, so
    # posexplode drops them without a separate filter layer.
    return hashed.sparkSession.sql(
        f"""
        WITH bands AS (
          SELECT doc_id, array({band_arr}) AS __bands
          FROM {{hashed}} GROUP BY doc_id
        ),
        band_rows AS (
          SELECT doc_id, posexplode(__bands) AS (band_idx, band_val)
          FROM bands
        ),
        buckets AS (
          SELECT sort_array(collect_list(doc_id)) AS ids
          FROM band_rows GROUP BY band_idx, band_val
        ),
        lefts AS (
          SELECT ids, posexplode(slice(ids, 1, size(ids) - 1)) AS (i, doc_a)
          FROM buckets
        ),
        pairs AS (
          SELECT doc_a,
            explode(slice(ids, i + 2, size(ids) - i - 1)) AS doc_b
          FROM lefts
        )
        SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared_bands
        FROM pairs GROUP BY doc_a, doc_b
        """,
        hashed=hashed,
    )


# --------------------------------------------------------------------------
# SimHash

def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash per doc as BIGINT (bit b set iff Σ_token ±1 ≥ 0).

    Bits come from the first 8 hex chars of md5(token): hex char p
    contributes bits 4p..4p+3 (b-th bit of the digit → bitpos 4p+b).
    Token multiplicity is the vote weight.

    Shape at scale: ONE shuffle keyed by doc_id, with all 32 bit votes as
    parallel conditional aggregates over the integer hash value — the
    per-row stream stays at |tokens| (no ×32 bit explode) and the partial
    aggs combine map-side. The naive explode(bitpos) form carries 32× the
    rows through an extra (doc, bit) shuffle for identical output.
    """
    tok = scatter(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(text_col)).alias("token"),
    )
    # h8 as a 32-bit integer: hex char p is the (7-p)-th nibble of v, so
    # bitpos k = 4p+b  ↔  integer bit j = 4*(7-p)+b = k - 8*(k//4) + 28
    hashed = tok.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT) AS v",
    )
    # ONE aggregate expression building the fingerprint directly: the
    # Column-op loop version of these 32 votes + 32 CASE terms was
    # ~0.6 s of Py4J driver latency per construction (profiled; most of
    # x03's bench time), the r13 form still paid 32 F.expr parse round
    # trips (~70 ms) plus an extra projection layer's analysis. A
    # single F.expr over the summed terms is one gateway round trip and
    # one DataFrame — Catalyst plans the identical 32 partial sums
    # (each CASE references its own sum()), so the physical aggregate
    # and the results are unchanged.
    terms = []
    for p in range(8):
        for b in range(4):
            k = 4 * p + b          # simhash bit position
            j = 4 * (7 - p) + b    # bit position within integer v
            terms.append(
                f"(CASE WHEN sum((shiftright(v, {j}) & 1) * 2 - 1) >= 0"
                f" THEN {1 << k} ELSE 0 END)"
            )
    fingerprint = " + ".join(terms)
    return hashed.groupBy("doc_id").agg(
        F.expr(f"CAST({fingerprint} AS BIGINT)").alias("simhash")
    )


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs (doc_a < doc_b) whose SimHash hamming distance ≤ max_hamming.

    Small-corpus path is an all-pairs join on fingerprints (tiny rows);
    the 100 TB path blocks on fingerprint bytes first (each near pair
    within hamming k shares at least one of k+1 fingerprint chunks —
    pigeonhole), which this function applies via a 4-chunk prefix join.
    """
    fp = simhash_fingerprints(docs)
    # pigeonhole blocking: hamming ≤ 3 ⇒ at least one of the 4 bytes
    # equal. posexplode of the 4 byte values yields (chunk_idx,
    # chunk_val) directly — no struct packing, one selectExpr.
    vals = ", ".join(
        f"shiftright(simhash, {i * 8}) & 255" for i in range(4)
    )
    # Bucket-grouped pair expansion, not a self-join (r14, same
    # rewrite as minhash_candidate_pairs): group chunk rows by bucket,
    # collect the bucket's sorted (doc_id, simhash) structs once, and
    # expand in-bucket pairs with two streamed Generates. Replaces the
    # persist + two-sided join (three extra jobs per run locally; two
    # exchanges + sort at any scale where the chunk table outgrows a
    # broadcast) with ONE exchange of the chunk rows. sort_array
    # orders by doc_id (unique per bucket), so expansion emits exactly
    # the doc_a < doc_b pairs. The hamming filter still runs BEFORE
    # the pair-dedup shuffle, so that exchange only carries surviving
    # pairs; every surviving copy of a pair has the same hamming, so
    # dropDuplicates stays value-deterministic.
    # ONE spark.sql pass (r14): the seven-layer selectExpr chain
    # re-ran the analyzer over the whole tree (including the 32-term
    # fingerprint aggregate below it) once per layer — most of this
    # operator's construction latency. A single CTE chain analyzes
    # once and plans the identical expansion. first(hamming) GROUP BY
    # (doc_a, doc_b) is exactly what dropDuplicates rewrites to
    # (ReplaceDeduplicateWithAggregate), and every surviving copy of a
    # pair carries the same hamming, so it stays value-deterministic.
    return fp.sparkSession.sql(
        f"""
        WITH chunks AS (
          SELECT doc_id, simhash,
            posexplode(array({vals})) AS (chunk_idx, chunk_val)
          FROM {{fp}}
        ),
        buckets AS (
          SELECT sort_array(collect_list(struct(doc_id, simhash))) AS ms
          FROM chunks GROUP BY chunk_idx, chunk_val
        ),
        lefts AS (
          SELECT ms, posexplode(slice(ms, 1, size(ms) - 1)) AS (i, a)
          FROM buckets
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, a.simhash AS sh_a,
            explode(slice(ms, i + 2, size(ms) - i - 1)) AS b
          FROM lefts
        ),
        ham AS (
          SELECT doc_a, b.doc_id AS doc_b,
            CAST(bit_count(sh_a ^ b.simhash) AS INT) AS hamming
          FROM pairs
        )
        SELECT doc_a, doc_b, first(hamming) AS hamming
        FROM ham WHERE hamming <= {int(max_hamming)}
        GROUP BY doc_a, doc_b
        """,
        fp=fp,
    )


# --------------------------------------------------------------------------
# n-gram Jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_k: int = DEFAULT_SHINGLE,
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold, via inverted index.

    ``max_doc_freq`` drops shingles present in more than that many docs
    (stop-shingles): a shingle shared by k docs emits k(k-1)/2 pair rows,
    so the cutoff is the skew guard at scale.
    """
    sh = scatter(docs).select(
        "doc_id", F.explode(shingles_col("text", shingle_k)).alias("shingle")
    ).distinct()
    # persist: the inverted index feeds sizes + both self-join sides (3
    # consumers); recomputing the explode+distinct per consumer triples
    # the heaviest stage. At 100 TB this is the operator's working set —
    # a real deployment would materialize it as a bucketed table anyway.
    sh = bounded_persist(sh, "dedup-jaccard-shingles")
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard_raw"),
        )
    )
    return jac.where(F.col("jaccard_raw") >= threshold)


# --------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components)

def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → the
    cluster-resolution step every dedup pipeline ends with (pick one
    survivor per component, drop the rest).

    Iterative min-label propagation, pure DataFrame ops: every node
    starts labeled with its own id; each round joins labels onto the
    (symmetrized) edge list and takes the min label seen across self and
    neighbors; fixpoint = component id is the min node id of the
    component. Deterministic — no randomness, min is order-insensitive.

    Scale shape: each round is one join + one min-agg (two shuffles on
    node id), and rounds needed = graph DIAMETER, not size. Near-dup
    components are star/clique-like (diameter 2-4), so this settles in a
    handful of rounds; a long-chain adversarial graph would want
    large-star/small-star contraction instead (same primitives, O(log n)
    rounds). Raises if the cap is hit without convergence rather than
    returning a half-propagated labeling.

    Returns (node, comp) for every node that appears in ``pairs``;
    singletons don't appear (callers left-join + coalesce to own id).
    """
    sym = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    # localCheckpoint (not persist): each round's plan references the
    # previous round's labels TWICE (union + propagation join), so with
    # plain caching the LOGICAL plan doubles per round and analysis time
    # grows exponentially (measured: 2.0s → 27.6s by round 4 at sf0.1).
    # Checkpointing truncates the lineage to a materialized RDD, keeping
    # per-round planning cost constant. On a cluster with failure
    # recovery requirements, swap for reliable checkpoint(dir).
    edges = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("comp"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = edges.join(labels, F.col("src") == F.col("node")).select(
            F.col("dst").alias("node"), F.col("comp")
        )
        new_labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.withColumnRenamed("comp", "comp_new")
            .join(labels, "node")
            .where(F.col("comp_new") != F.col("comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds the cap; raise max_iter or switch to "
        "star-contraction for chain-shaped graphs"
    )


def fuzzy_pairs_levenshtein(
    docs: DataFrame,
    prefix_len: int = 64,
    max_dist: int = 8,
    len_bucket: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Edit-distance near-dup pairs, BLOCKED so no all-pairs compare ever
    runs: candidates must share language and sit in the same or an
    adjacent ``len_bucket``-char length bucket (a true edit-distance
    neighbor has a similar length, so adjacency covers the boundary
    straddle); within a block, pairs are scored by levenshtein on the
    first ``prefix_len`` chars — the standard cheap surrogate that keeps
    per-pair cost O(prefix²) instead of O(len²).

    Skew/scale shape (same interval-bucket trick as the q20 range join):
    the probe side explodes to buckets {b-1, b, b+1} and joins the build
    side's TRUE bucket, so every qualifying pair matches exactly once and
    per-key shuffle groups are bounded by block population, not corpus
    size. Levenshtein runs codegen'd (built-in), zero Python, BANDED at
    ``max_dist`` (the threshold form computes an O(k·n) diagonal band
    and bails at k+1 instead of filling the O(n²) DP table — surviving
    pairs and their distances are identical).

    The probe side is explicitly round-robin repartitioned before the
    join: when the corpus arrives as few files (or one), a broadcast
    join would otherwise inherit the scan's partitioning and run EVERY
    pair compare on a handful of cores — the r5 scaling envelope caught
    exactly that (one task, 43 s at sf0.1; ~1.5 s repartitioned). The
    shuffle moved is the exploded probe rows (3n), trivial next to the
    pair-compare work it parallelizes.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(
        F.col(id_col).alias("fid"),
        F.col(lang_col).alias("flang"),
        F.substring(F.col(text_col), 1, prefix_len).alias("fprefix"),
        (F.length(text_col) / F.lit(len_bucket)).cast("bigint").alias("fb"),
    )
    left = base.select(
        F.col("fid").alias("doc_a"),
        F.col("flang").alias("lang_a"),
        F.col("fprefix").alias("prefix_a"),
        F.explode(
            F.array(F.col("fb") - 1, F.col("fb"), F.col("fb") + 1)
        ).alias("jb"),
    ).repartition(par)
    right = base.select(
        F.col("fid").alias("doc_b"),
        F.col("flang").alias("lang_b"),
        F.col("fprefix").alias("prefix_b"),
        F.col("fb").alias("jb2"),
    )
    return (
        left.join(
            right,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("jb") == F.col("jb2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .withColumn(
            "prefix_dist",
            F.levenshtein("prefix_a", "prefix_b", max_dist).cast("int"),
        )
        .where(F.col("prefix_dist") >= 0)
        .select("doc_a", "doc_b", F.col("lang_a").alias("lang"), "prefix_dist")
    )


def pagerank_iterations(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank (power iteration, simplified dangling
    handling: mass from sink nodes is dropped, as in the classic
    sparse formulation). Each round is one join + one aggregation —
    the same shuffle-bounded shape as ``connected_components`` — and
    ``n_iter`` is a constant, so the whole computation is ONE Catalyst
    plan the oracle can replay as unrolled CTEs.

    Cross-engine determinism: per-edge contributions rank/out_degree are
    computed in IEEE double (identical both engines), quantized to
    DECIMAL(18,9) BEFORE the per-target sum (exact, order-independent),
    and the damped update stays in exact decimal arithmetic.

    Recomputation is TRUNCATED at round boundaries (per-round persist
    pools, VERDICT r14 item 7): without it every iteration re-embeds
    the full ``edges``/``nodes`` subtrees (here: an LSH pair-expansion
    pipeline) into an ever-deeper tree and the EXECUTOR recomputes the
    edge derivation per round — n_iter full passes at 100 TB. With the
    pools, the physical plan reads each round (and edges/deg/nodes)
    from one cached materialization; plans stay LAZY, so construction
    runs zero jobs (a localCheckpoint variant was measured and
    rejected: its ``toRdd`` under AQE materializes every query stage at
    CONSTRUCTION — 30 jobs during plan building, the x188 bug class).
    Values are unchanged (a cache stores exactly the rows the subtree
    computes, and an evicted cache recomputes the same lineage).
    """
    from video_streamer_spark.functions.caching import (
        bounded_persist,
        evict_pools,
    )

    evict_pools("pagerank-")
    edges = bounded_persist(edges, "pagerank-edges")
    nodes = bounded_persist(
        nodes.select(F.col(node_col).alias("node")), "pagerank-nodes"
    )
    node_col = "node"
    deg = bounded_persist(
        edges.groupBy(src_col).agg(F.count("*").alias("out_deg")),
        "pagerank-deg",
    )
    ranks = nodes.select(
        F.col(node_col).alias("node"),
        F.lit(1.0).cast("decimal(18,9)").alias("rank"),
    )
    base = F.lit(1.0 - damping).cast("decimal(6,4)")
    damp = F.lit(damping).cast("decimal(6,4)")
    for it in range(n_iter):
        contribs = (
            edges.join(ranks, edges[src_col] == ranks["node"])
            .join(deg, src_col)
            .select(
                F.col(dst_col).alias("node"),
                (F.col("rank").cast("double") / F.col("out_deg"))
                .cast("decimal(18,9)")
                .alias("term"),
            )
            .groupBy("node")
            .agg(F.sum("term").alias("s"))
        )
        ranks = (
            nodes.select(F.col(node_col).alias("node"))
            .join(contribs, "node", "left")
            .select(
                "node",
                (base + damp * F.coalesce(F.col("s"), F.lit(0).cast("decimal(18,9)")))
                .cast("decimal(18,9)")
                .alias("rank"),
            )
        )
        if it < n_iter - 1:  # the final round is consumed once — no pool
            ranks = bounded_persist(ranks, f"pagerank-r{it}")
    return ranks


# --------------------------------------------------------------------------
# n-gram decontamination (benchmark leakage removal)


def ngram_decontaminate(
    docs: DataFrame,
    is_eval: Column,
    shingle_k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents sharing any ``shingle_k``-token n-gram with
    the evaluation set — the standard benchmark-decontamination pass a
    training corpus runs before a model ever sees it (the reference has
    no analog; this is the LLM-pipeline extension of exact dedup).

    ``is_eval`` is a boolean Column partitioning ``docs`` into eval
    (benchmark) and train rows. Returns the TRAIN rows with a boolean
    ``contaminated`` column.

    100 TB design: eval sets are small by construction (thousands of
    docs), so their distinct n-gram hashes broadcast; the train side then
    decides membership in a single scan — one shuffle-free broadcast
    semi-join probe, no train-side n-gram materialization survives the
    stage. Hashes are md5 strings so the broadcast rows stay 32 bytes
    regardless of shingle length.
    """
    tagged = docs.withColumn("__is_eval", is_eval)
    # persist: the gram explode feeds both the eval-distinct build side
    # and the train probe side; without it the heaviest stage (tokenize +
    # explode + md5 over the full corpus) runs twice
    grams = scatter(tagged).select(
        id_col,
        "__is_eval",
        F.explode(shingles_col(text_col, shingle_k)).alias("gram"),
    ).select(id_col, "__is_eval", F.md5("gram").alias("gh")).transform(
        pooled("dedup-decontaminate-grams")
    )
    eval_grams = (
        grams.where(F.col("__is_eval")).select("gh").distinct()
    )
    train = tagged.where(~F.col("__is_eval")).drop("__is_eval")
    hits = (
        grams.where(~F.col("__is_eval"))
        .join(F.broadcast(eval_grams), "gh", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        train.join(hits, id_col, "left")
        .withColumn("contaminated", F.coalesce(F.col("__hit"), F.lit(False)))
        .drop("__hit")
    )


# --------------------------------------------------------------------------
# canonical selection (quality-aware dedup keeper rule)


def canonical_selection(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Exact-dup clusters keep their BEST copy, not their first: within
    each md5(text) group the keeper is the row with the highest
    ``quality_col`` (ties to the lowest id — fully deterministic). The
    upgrade over ``exact_dedup``'s min-id rule matters when copies differ
    in metadata quality (truncated mirrors, stripped headers).

    One hash-shuffle on the 32-byte text digest — the exact-dedup cost
    envelope; the rank window runs inside each (small) dup group.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(text_col)).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "group_size",
            F.count("*").over(Window.partitionBy(F.md5(text_col))).cast("bigint"),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# cross-source overlap estimation


def source_overlap(
    docs: DataFrame,
    group_col: str = "source",
    shingle_k: int = DEFAULT_SHINGLE,
    text_col: str = "text",
) -> DataFrame:
    """Pairwise shingle-set overlap between ingest sources: for each
    (source_a < source_b), the intersection size and both directed
    containments |A∩B|/|A|, |A∩B|/|B| — the numbers that decide which
    of two feeds is redundant BEFORE paying for full dedup.

    Scale shape: the inverted index groups by shingle, and a shingle
    contributes at most n_groups rows to the self-join, so pair fan-out
    is bounded by n_groups² per shingle — group counts are
    dimension-sized (tens), never corpus-sized. One explode + distinct,
    one equi-join on the 32-byte shingle hash.
    """
    sh = (
        scatter(docs)
        .select(
            F.col(group_col).alias("grp"),
            F.explode(shingles_col(text_col, shingle_k)).alias("gram"),
        )
        .select("grp", F.md5("gram").alias("gh"))
        .distinct()
        .transform(pooled("dedup-source-overlap"))
    )
    sizes = sh.groupBy("grp").agg(F.count("*").alias("set_size"))
    a = sh.select(F.col("grp").alias("source_a"), "gh")
    b = sh.select(F.col("grp").alias("source_b"), "gh")
    inter = (
        a.join(b, "gh")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("grp").alias("source_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("grp").alias("source_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            (F.col("n_inter").cast("double") / F.col("size_a").cast("double")).alias(
                "containment_a_raw"
            ),
            (F.col("n_inter").cast("double") / F.col("size_b").cast("double")).alias(
                "containment_b_raw"
            ),
        )
    )


# --------------------------------------------------------------------------
# substring containment


def containment_pairs(
    docs: DataFrame,
    shingle_k: int = DEFAULT_SHINGLE,
    text_col: str = "text",
) -> DataFrame:
    """Document-containment pairs: (doc_a, doc_b) where a's text appears
    VERBATIM inside b's — the quoted/superset duplicates that survive
    near-dup thresholds (a short doc inside a long one has low Jaccard).

    Blocking is each doc's RAREST shingle (min document frequency, then
    lexicographic): for token-aligned containment every shingle of the
    contained doc is a shingle of the container, so joining a's rarest
    shingle against the inverted index is candidate-EXACT for that
    case, and per-doc candidate fan-out is bounded by df(rarest) — a
    doc only fans wide when ALL its shingles are corpus-hot. Candidates
    are verified with a codegen substring test on the joined texts;
    equal-length (identical) pairs are oriented doc_a < doc_b.
    """
    sh = (
        scatter(docs)
        .select(
            "doc_id",
            F.explode(shingles_col(text_col, shingle_k)).alias("g"),
        )
        .distinct()
        .transform(pooled("dedup-containment-shingles"))
    )
    df_ = sh.groupBy("g").agg(F.count("*").alias("df"))
    rarest = (
        sh.join(df_, "g")
        .groupBy("doc_id")
        .agg(F.min(F.struct("df", "g")).alias("r"))
        .select("doc_id", F.col("r.g").alias("g"))
    )
    a = rarest.join(
        docs.select(
            F.col("doc_id"),
            F.col(text_col).alias("a_text"),
            F.length(text_col).alias("a_len"),
        ),
        "doc_id",
    ).select(F.col("doc_id").alias("doc_a"), "g", "a_text", "a_len")
    b = sh.join(
        docs.select(
            F.col("doc_id"),
            F.col(text_col).alias("b_text"),
            F.length(text_col).alias("b_len"),
        ),
        "doc_id",
    ).select(F.col("doc_id").alias("doc_b"), "g", "b_text", "b_len")
    return (
        a.join(b, "g")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (
                (F.col("a_len") < F.col("b_len"))
                | (
                    (F.col("a_len") == F.col("b_len"))
                    & (F.col("doc_a") < F.col("doc_b"))
                )
            )
            & (F.expr("instr(b_text, a_text)") > 0)
        )
        .select("doc_a", "doc_b")
    )

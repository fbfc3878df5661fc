"""Deduplication operators for LLM training-data pipelines (Tier C).

Five escalating strategies over the ``documents`` fixture:

1. exact          — byte-identical text (hash groupBy)
2. normalized     — identical distinct-token sets (canonicalized fingerprint)
3. MinHash + LSH  — near-duplicates via banded minhash signatures
4. SimHash        — near-duplicates via hamming-close bit signatures
5. n-gram Jaccard — exact set similarity over shingles for candidate pairs

Cross-engine portability: every digest is ``md5`` (identical hex output in
Spark and DuckDB); minhash derives its 16 hash functions from one digest
per shingle via integer double-hashing (hex chunks -> BIGINT in both
engines), so the oracle reproduces signatures bit-for-bit.

Scale notes (100 TB corpus):
- All signature computation is per-row JVM array work (split/transform/
  aggregate) — embarrassingly parallel, no shuffle until the candidate join.
- LSH banding turns all-pairs O(n²) into an equi-join on (band, band_hash):
  only docs agreeing on a full band meet. 16 hashes / 4 bands ≈ catches
  Jaccard ≳ 0.5 with high probability (s-curve (1-(1-s^4)^4)).
- SimHash pairs use the pigeonhole band trick (hamming ≤ k ⇒ some quarter
  of the signature is equal) — again an equi-join, never a cross join.
- The Jaccard verifier joins candidates only (inverted index on shingles),
  then aggregates intersection counts: explode -> join -> count, all
  shuffle-on-key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bfs_etl_sep2025_spark.operators._fixpoint import min_label_components
from bfs_etl_sep2025_spark.operators._ngrams import _tokens, exploded_ngrams
from bfs_etl_sep2025_spark.registry import query
from bfs_etl_sep2025_spark.tables import load, widen

# --------------------------------------------------------------------------
# shared signature builders (Spark side)
# --------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, sig array<bigint>[16]) via the scalable
    plan: explode shingles, one hash-aggregate computing all 16 mins in a
    single codegen'd pass.

    ONE digest per shingle, 16 derived hash functions h_j = (h1 + j*h2)
    mod P (Kirsch-Mitzenmacher double hashing; h1/h2 = two 28-bit md5
    chunks): the md5 — the dominant cost — runs once per shingle instead of
    16 times, the per-j work is integer arithmetic, and numeric min() takes
    the HashAggregate fast path (string min would fall back to
    SortAggregate) with 8-byte shuffle values. Minhash over a multiset
    equals minhash over the set, so duplicate shingles don't matter.

    Shingles come from the codegen'd index-explode builder (``_ngrams``) —
    never the interpreted transform-lambda — and the scan is widened to all
    cores first (no-op on a many-split cluster input)."""
    sh = exploded_ngrams(widen(docs), n=3)
    hexd = F.md5("s")
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(hexd, 1, 7), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(hexd, 8, 7), 16, 10).cast("bigint").alias("h2"),
    )
    mins = [
        F.min((F.col("h1") + j * F.col("h2")) % MINHASH_P).alias(f"m{j}")
        for j in range(N_HASHES)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{j}" for j in range(N_HASHES)]).alias("sig"))
    )


def band_hashes(sig: str) -> Column:
    """The ``N_BANDS`` LSH band hashes of signature column ``sig`` as one
    array: band b is the md5 of its ``ROWS_PER_BAND`` minhashes' decimal
    strings, concatenated. Literal indexes keep it a codegen'd projection."""
    return F.array(
        *[
            F.md5(
                F.concat(
                    *[
                        F.element_at(sig, b * ROWS_PER_BAND + i).cast("string")
                        for i in range(1, ROWS_PER_BAND + 1)
                    ]
                )
            )
            for b in range(N_BANDS)
        ]
    )


def n_agree(sig_a: str, sig_b: str) -> Column:
    """How many of the ``N_HASHES`` minhashes two signatures share: an
    unrolled chain of literal-index compares, not an interpreted array
    lambda. Score it after the band join, never inside its condition
    (extra-condition chains run before the cheap conjuncts for every
    key-matched pair)."""
    n_eq = None
    for j in range(1, N_HASHES + 1):
        e_j = F.when(F.element_at(sig_a, j) == F.element_at(sig_b, j), 1).otherwise(0)
        n_eq = e_j if n_eq is None else n_eq + e_j
    return n_eq


#: DuckDB twin of the shingle + signature builders
SQL_SHINGLES = """
        CASE WHEN len(string_split(text, ' ')) >= 3
             THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i] || ' ' ||
                         string_split(text, ' ')[i+1] || ' ' ||
                         string_split(text, ' ')[i+2])
             ELSE [text] END
"""
#: double-hashing domain (prime < 2^30): h_j = (h1 + j*h2) mod P where
#: h1/h2 are the first/second 28 bits of ONE md5 per shingle
#: (Kirsch-Mitzenmacher construction) — 16x fewer digest computations.
MINHASH_P = 1073741789
SQL_SIG = f"""
        list_transform(range(0, {N_HASHES}), j ->
          list_min(list_transform(shingles,
            s -> (('0x' || substr(md5(s), 1, 7))::BIGINT
                  + j * ('0x' || substr(md5(s), 8, 7))::BIGINT) % {MINHASH_P})))
"""


# --------------------------------------------------------------------------
# 1. exact dedup
# --------------------------------------------------------------------------


@query(
    "dedup_exact",
    family="dedup",
    oracle="""
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id
    (a deterministic survivor policy — never dropDuplicates' arbitrary
    row). One shuffle on the 128-bit hash, not the full text."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


@query(
    "dedup_normalized",
    family="dedup",
    oracle="""
        SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
                 AS set_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_members
        FROM documents
        GROUP BY 1
        HAVING count(*) > 1
        ORDER BY keep_doc_id
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized dedup: docs with the same *distinct token set* (word
    order and repetition ignored) collapse; only multi-member groups are
    reported. Catches what exact hashing cannot."""
    d = load(spark, sf_dir, "documents")
    set_hash = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens(F.col("text")))))
    )
    return (
        d.groupBy(set_hash.alias("set_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("keep_doc_id")
    )


# --------------------------------------------------------------------------
# 2. MinHash signatures + LSH candidate pairs
# --------------------------------------------------------------------------


@query(
    "dedup_minhash_signature",
    family="dedup",
    oracle=f"""
        WITH sh AS (
          SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents
        ),
        mh AS (SELECT doc_id, {SQL_SIG} AS sig FROM sh)
        SELECT doc_id, sig[1] AS mh0, sig[6] AS mh5, sig[16] AS mh15
        FROM mh
        ORDER BY doc_id
    """,
)
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature spot-check (3 of 16 positions) — proves the
    tokenize->shingle->hash->min machinery is engine-exact before the LSH
    stage builds on it."""
    d = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    return sigs.select(
        "doc_id",
        F.element_at("sig", 1).alias("mh0"),
        F.element_at("sig", 6).alias("mh5"),
        F.element_at("sig", 16).alias("mh15"),
    ).orderBy("doc_id")


@query(
    "dedup_minhash_lsh_pairs",
    family="dedup",
    bench=True,
    oracle=f"""
        WITH sh AS (
          SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents
        ),
        mh AS (SELECT doc_id, {SQL_SIG} AS sig FROM sh),
        bands AS (
          SELECT doc_id, b.b,
                 md5(sig[4*b.b+1]::VARCHAR || sig[4*b.b+2]::VARCHAR ||
                     sig[4*b.b+3]::VARCHAR || sig[4*b.b+4]::VARCHAR) AS bh
          FROM mh, (SELECT unnest([0,1,2,3]) AS b) b
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bands l JOIN bands r ON l.b = r.b AND l.bh = r.bh
                                   AND l.doc_id < r.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               len(list_filter(range(1, {N_HASHES} + 1),
                               i -> ma.sig[i] = mb.sig[i])) / {N_HASHES}.0
                 AS est_jaccard
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.doc_a
        JOIN mh mb ON mb.doc_id = c.doc_b
        WHERE len(list_filter(range(1, {N_HASHES} + 1),
                              i -> ma.sig[i] = mb.sig[i])) >= {N_HASHES} // 2
        ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via banded LSH (:func:`minhash_lsh_pairs`),
    ordered for output."""
    return minhash_lsh_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via banded LSH: docs sharing any full band of 4
    minhashes become candidates (equi-join — THE property that scales this
    to 100 TB: no all-pairs comparison ever happens), then candidates are
    scored by signature agreement and kept at est-Jaccard >= 0.5.
    Unordered: the consumers (:func:`llm_corpus_clean`,
    :func:`dedup_minhash_clusters`) join or aggregate it, and a global sort
    here costs them a range-sampling job and a sort."""
    d = load(spark, sf_dir, "documents")
    bands = minhash_signatures(d).select(
        "doc_id", "sig", F.posexplode(band_hashes("sig")).alias("b", "bh")
    )
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "b", "bh"
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "b", "bh"
    )
    # Self-join via SHUFFLE_HASH, not broadcast: at 100 TB the band table
    # is not broadcastable, and a broadcast build side would recompute the
    # whole signature pipeline into the broadcast exchange.
    # Score BEFORE deduplicating: a pair colliding in several bands carries
    # the same n_eq each time, so max() collapses duplicates — the dedup
    # then shuffles only (doc_a, doc_b, int), never the signature arrays
    # (a distinct() over array columns was the hot spot here).
    scored = (
        left.hint("shuffle_hash")
        .join(right, ["b", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", n_agree("sig_a", "sig_b").alias("n_eq"))
        .groupBy("doc_a", "doc_b")
        .agg(F.max("n_eq").alias("n_eq"))
    )
    return scored.filter(F.col("n_eq") >= N_HASHES // 2).select(
        "doc_a",
        "doc_b",
        (F.col("n_eq") / float(N_HASHES)).alias("est_jaccard"),
    )


@query(
    "llm_corpus_clean",
    family="dedup",
    bench=True,
    oracle=f"""
        WITH m AS (
          SELECT doc_id, text,
                 len(string_split(text, ' ')) AS n_tok,
                 len(list_distinct(string_split(text, ' '))) AS n_uniq,
                 len(list_filter(string_split(text, ' '),
                                 t -> t IN ('the','a','of','and','to','in','is','it')))
                   AS n_stop
          FROM documents
        ),
        quality AS (
          SELECT doc_id, text,
                 (n_uniq::DOUBLE / n_tok)
                   * CASE WHEN n_tok BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
                   * (1.0 - n_stop::DOUBLE / n_tok) AS q
          FROM m
        ),
        passed AS (SELECT doc_id, text, q FROM quality WHERE q >= 0.3),
        exact_keep AS (
          SELECT min(doc_id) AS doc_id FROM passed GROUP BY md5(text)
        ),
        sh AS (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents),
        mh AS (SELECT doc_id, {SQL_SIG} AS sig FROM sh),
        bands AS (
          SELECT doc_id, b.b,
                 md5(sig[4*b.b+1]::VARCHAR || sig[4*b.b+2]::VARCHAR ||
                     sig[4*b.b+3]::VARCHAR || sig[4*b.b+4]::VARCHAR) AS bh
          FROM mh, (SELECT unnest([0,1,2,3]) AS b) b
        ),
        near_losers AS (
          SELECT DISTINCT r.doc_id AS doc_id
          FROM bands l JOIN bands r ON l.b = r.b AND l.bh = r.bh
                                   AND l.doc_id < r.doc_id
          JOIN mh ma ON ma.doc_id = l.doc_id
          JOIN mh mb ON mb.doc_id = r.doc_id
          WHERE len(list_filter(range(1, {N_HASHES} + 1),
                                i -> ma.sig[i] = mb.sig[i])) >= {N_HASHES} // 2
        )
        SELECT p.doc_id, p.q AS quality
        FROM passed p
        JOIN exact_keep e ON e.doc_id = p.doc_id
        LEFT JOIN near_losers n ON n.doc_id = p.doc_id
        WHERE n.doc_id IS NULL
        ORDER BY p.doc_id
    """,
)
def llm_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline, as ONE declarative
    plan: quality gate (uniqueness x length x stopword score >= 0.3) ->
    exact dedup (min doc_id survives per content hash) -> near-dup removal
    (greedy: the larger doc_id of every LSH pair at est-Jaccard >= 0.5 is
    dropped — deterministic; a transitive-closure variant needs iterative
    connected components, out of single-query SQL scope and noted as such).

    This is the Tier-C flagship: every stage reuses the oracle-verified
    primitives above, Catalyst fuses the whole thing into one job, and each
    stage is an equi-join/aggregate — nothing quadratic, 100 TB-shaped."""
    d = load(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    n_tok = F.size(t)
    n_uniq = F.size(F.array_distinct(t))
    # codegen'd stopword count (token-exact via zero-width space boundaries)
    # — not the interpreted HOF filter lambda (hot-path rule, ADVICE r01)
    n_stop = F.regexp_count(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
        F.lit("(?<= )(the|a|of|and|to|in|is|it)(?= )"),
    )
    q = (
        (n_uniq.cast("double") / n_tok)
        * F.when(n_tok.between(20, 1000), F.lit(1.0)).otherwise(F.lit(0.0))
        * (1.0 - n_stop.cast("double") / n_tok)
    )
    passed = d.select("doc_id", "text", q.alias("q")).filter(F.col("q") >= 0.3)
    exact_keep = (
        passed.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    near_losers = (
        minhash_lsh_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return (
        passed.join(exact_keep, "doc_id")
        .join(near_losers, "doc_id", "left_anti")
        .select("doc_id", F.col("q").alias("quality"))
        .orderBy("doc_id")
    )


@query(
    "dedup_minhash_clusters",
    family="dedup",
    bench=True,
    oracle=f"""
        WITH RECURSIVE sh AS (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents),
        mh AS (SELECT doc_id, {SQL_SIG} AS sig FROM sh),
        bands AS (
          SELECT doc_id, b.b,
                 md5(sig[4*b.b+1]::VARCHAR || sig[4*b.b+2]::VARCHAR ||
                     sig[4*b.b+3]::VARCHAR || sig[4*b.b+4]::VARCHAR) AS bh
          FROM mh, (SELECT unnest([0,1,2,3]) AS b) b
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bands l JOIN bands r ON l.b = r.b AND l.bh = r.bh
                                   AND l.doc_id < r.doc_id
          JOIN mh ma ON ma.doc_id = l.doc_id
          JOIN mh mb ON mb.doc_id = r.doc_id
          WHERE len(list_filter(range(1, {N_HASHES} + 1),
                                i -> ma.sig[i] = mb.sig[i])) >= {N_HASHES} // 2
        ),
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        -- fixpoint reachability: every doc reaches every member of its
        -- component; cluster id = min reachable doc id
        reach(s, d) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        )
        SELECT s AS doc_id, min(d) AS cluster_id
        FROM reach
        GROUP BY s
        HAVING min(d) < s OR EXISTS (SELECT 1 FROM edges e WHERE e.s = reach.s)
        ORDER BY doc_id
    """,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE near-duplicate clusters: connected components over the
    LSH pair graph (A~B, B~C => {A,B,C} one cluster — what the greedy
    pair-drop in llm_corpus_clean deliberately approximates). Only docs
    that are in some pair are emitted, labeled by their component's min
    doc_id.

    Spark has no recursive CTE, so this is min-label propagation over the
    (already unique ``doc_a < doc_b``) LSH pairs, on the engine
    ``graph_connected_components`` shares (``_fixpoint``); the dup-pair
    graph sits far below its broadcast edge leg, so each round is one
    shuffle join. The oracle computes the same fixpoint with DuckDB's
    WITH RECURSIVE — two unrelated fixpoint engines agreeing on every
    component."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "dedup_cluster_canonical",
    family="dedup",
    oracle=f"""
        WITH RECURSIVE sh AS (SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents),
        mh AS (SELECT doc_id, {SQL_SIG} AS sig FROM sh),
        bands AS (
          SELECT doc_id, b.b,
                 md5(sig[4*b.b+1]::VARCHAR || sig[4*b.b+2]::VARCHAR ||
                     sig[4*b.b+3]::VARCHAR || sig[4*b.b+4]::VARCHAR) AS bh
          FROM mh, (SELECT unnest([0,1,2,3]) AS b) b
        ),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM bands l JOIN bands r ON l.b = r.b AND l.bh = r.bh
                                   AND l.doc_id < r.doc_id
          JOIN mh ma ON ma.doc_id = l.doc_id
          JOIN mh mb ON mb.doc_id = r.doc_id
          WHERE len(list_filter(range(1, {N_HASHES} + 1),
                                i -> ma.sig[i] = mb.sig[i])) >= {N_HASHES} // 2
        ),
        edges AS (
          SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(s, d) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        clusters AS (
          SELECT s AS doc_id, min(d) AS cluster_id
          FROM reach
          GROUP BY s
          HAVING min(d) < s OR EXISTS (SELECT 1 FROM edges e WHERE e.s = reach.s)
        ),
        m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tok,
                 len(list_distinct(string_split(text, ' '))) AS n_uniq,
                 len(list_filter(string_split(text, ' '),
                       t -> t IN ('the','a','of','and','to','in','is','it')))
                   AS n_stop
          FROM documents
        ),
        q AS (
          SELECT doc_id,
                 (n_uniq::DOUBLE / n_tok)
                   * CASE WHEN n_tok BETWEEN 20 AND 1000
                          THEN 1.0 ELSE 0.0 END
                   * (1.0 - n_stop::DOUBLE / n_tok) AS quality
          FROM m
        ),
        ranked AS (
          SELECT c.cluster_id, c.doc_id, q.quality,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY q.quality DESC, c.doc_id) AS rn,
                 count(*) OVER (PARTITION BY c.cluster_id) AS n_members
          FROM clusters c JOIN q ON q.doc_id = c.doc_id
        )
        SELECT cluster_id, doc_id AS canonical_doc,
               quality AS canonical_quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1
        ORDER BY cluster_id
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware canonical selection: within each TRANSITIVE near-dup
    cluster keep the HIGHEST-QUALITY member (tie: smallest doc_id) — the
    production survivor policy when dup clusters mix a clean original
    with boilerplate-wrapped mirrors, versus the min-id policy of
    ``llm_corpus_clean`` (which keeps whichever copy crawled first).
    Quality is ``text_quality_score``'s exact integer-ratio composite,
    so both engines rank bit-identical doubles.

    Scale: clusters come from the label-propagation engine above (band
    equi-joins, never all-pairs); the canonical pick is ONE exchange on
    ``cluster_id`` shared by the rank window and the member count — the
    window-over-key idiom (r9) instead of an agg + join back."""
    clusters = dedup_minhash_clusters(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    n_tok = F.size(t)
    n_uniq = F.size(F.array_distinct(t))
    n_stop = F.regexp_count(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
        F.lit("(?<= )(the|a|of|and|to|in|is|it)(?= )"),
    )
    q = (
        (n_uniq.cast("double") / n_tok)
        * F.when(n_tok.between(20, 1000), F.lit(1.0)).otherwise(F.lit(0.0))
        * (1.0 - n_stop.cast("double") / n_tok)
    )
    qual = d.select("doc_id", q.alias("quality"))
    w_rank = W.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    w_all = W.partitionBy("cluster_id")
    return (
        clusters.join(qual, "doc_id")
        .select(
            "cluster_id",
            "doc_id",
            "quality",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality").alias("canonical_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
        .orderBy("cluster_id")
    )

# --------------------------------------------------------------------------
# 3. SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 32


@query(
    "dedup_simhash",
    family="dedup",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        bits AS (
          SELECT doc_id, j.j,
                 sum(CASE WHEN substr(md5(tok), j.j, 1) >= '8' THEN 1 ELSE -1 END) AS acc
          FROM tok, (SELECT unnest(range(1, {SIMHASH_BITS} + 1)) AS j) j
          GROUP BY doc_id, j.j
        )
        SELECT doc_id,
               string_agg(CASE WHEN acc >= 0 THEN '1' ELSE '0' END, ''
                          ORDER BY j) AS simhash
        FROM bits
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: bit j is the sign of the token-frequency-weighted sum
    of hash-bit j over all tokens. Portable bit source: hex digit j of
    md5(token) has its high bit set iff the char is >= '8'. Emitted as a
    bitstring so the oracle comparison is byte-exact."""
    d = load(spark, sf_dir, "documents")
    tok = widen(d).select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    # substring with dynamic position needs the expr form substring(h, j, 1)
    bits = (
        tok.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(SIMHASH_BITS))).alias("j"),
            F.md5("tok").alias("h"),
        )
        .select(
            "doc_id", "j", F.expr("substring(h, j, 1)").alias("c")
        )
        .groupBy("doc_id", "j")
        .agg(F.sum(F.when(F.col("c") >= "8", 1).otherwise(-1)).alias("acc"))
    )
    # bit char computed BEFORE the collect, so assembly is sort_array (on
    # the (j, c) struct, j first => positional order; sort_array, NOT
    # array_sort, which carries an implicit lambda comparator) + the
    # codegen'd GetArrayStructFields projection — no interpreted lambda.
    bit_c = F.when(F.col("acc") >= 0, F.lit("1")).otherwise(F.lit("0"))
    sig = (
        bits.select("doc_id", "j", bit_c.alias("c"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.sort_array(F.collect_list(F.struct("j", "c"))).getField("c"),
            ).alias("simhash")
        )
    )
    return sig.orderBy("doc_id")


@query(
    "dedup_simhash_pairs",
    family="dedup",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        bits AS (
          SELECT doc_id, j.j,
                 sum(CASE WHEN substr(md5(tok), j.j, 1) >= '8' THEN 1 ELSE -1 END) AS acc
          FROM tok, (SELECT unnest(range(1, {SIMHASH_BITS} + 1)) AS j) j
          GROUP BY doc_id, j.j
        ),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN acc >= 0
                               THEN (1::BIGINT << ({SIMHASH_BITS} - j))
                               ELSE 0 END) AS BIGINT) AS sh
          FROM bits GROUP BY doc_id
        )
        -- oracle: brute-force all pairs (fine at oracle scale)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
        ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-close pairs (distance <= 3). Spark side uses the pigeonhole
    LSH trick — distance <= 3 over 4 signature quarters forces at least one
    EQUAL quarter, so candidates come from an equi-join on (quarter index,
    quarter bits); the oracle brute-forces all pairs. Agreement proves the
    banded plan loses nothing.

    Signatures ride as a packed BIGINT (same bits as dedup_simhash's
    bitstring): quarter keys are shift/mask arithmetic and hamming is ONE
    codegen'd ``bit_count(xor)`` per candidate — string/array forms of this
    comparison were 10-60x slower on the ~400k-candidate join."""
    d = load(spark, sf_dir, "documents")
    tok = widen(d).select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    bits = (
        tok.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(SIMHASH_BITS))).alias("j"),
            F.md5("tok").alias("h"),
        )
        .select("doc_id", "j", F.expr("substring(h, j, 1)").alias("c"))
        .groupBy("doc_id", "j")
        .agg(F.sum(F.when(F.col("c") >= "8", 1).otherwise(-1)).alias("acc"))
    )
    sig = bits.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("acc") >= 0,
                F.expr(f"shiftleft(1L, {SIMHASH_BITS} - j)"),
            ).otherwise(F.lit(0))
        ).alias("sh")
    )
    quarters = sig.select(
        "doc_id",
        "sh",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("q"),
    ).select(
        "doc_id",
        "sh",
        "q",
        F.expr("shiftright(sh, 8 * q) & 255").alias("qbits"),
    )
    left = quarters.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), "q", "qbits"
    )
    right = quarters.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), "q", "qbits"
    )
    cand = (
        left.join(right, ["q", "qbits"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# 4. n-gram Jaccard verification
# --------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    family="dedup",
    oracle=f"""
        WITH sh AS (
          SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents
        ),
        ds AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM ds),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_both, any_value(a.n) AS na, any_value(b.n) AS nb
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               n_both::DOUBLE / (na + nb - n_both) AS jaccard
        FROM inter
        WHERE n_both::DOUBLE / (na + nb - n_both) >= 0.3
        ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for pairs sharing at least one shingle — the
    inverted-index candidate pattern (explode -> equi-join on shingle ->
    count) that verifies minhash estimates without an all-pairs pass.

    Per-doc distinct-shingle counts come from exploded rows (distinct on
    (doc_id, gram) + a doc_id-partitioned window count) rather than a
    per-row ``array_distinct(transform(...))`` — one extra narrow shuffle
    buys an all-codegen row path (hot-path rule: no interpreted HOFs)."""
    d = load(spark, sf_dir, "documents")
    distinct_grams = exploded_ngrams(widen(d), n=3, out="g").distinct()
    ex = distinct_grams.withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("doc_id"))
    )
    a = ex.select(
        F.col("doc_id").alias("doc_a"), "g", F.col("n").alias("na")
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"), "g", F.col("n").alias("nb")
    )
    inter = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("both"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    jac = F.col("both") / (F.col("na") + F.col("nb") - F.col("both"))
    return (
        inter.select("doc_a", "doc_b", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_ngram_containment",
    family="dedup",
    oracle=f"""
        WITH sh AS (
          SELECT doc_id, {SQL_SHINGLES} AS shingles FROM documents
        ),
        ds AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
        ex AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM ds),
        inter AS (
          SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
                 count(*) AS n_both, any_value(a.n) AS na, any_value(b.n) AS nb
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
          GROUP BY 1, 2
        )
        SELECT contained_doc, container_doc,
               n_both::DOUBLE / na AS containment,
               n_both::DOUBLE / (na + nb - n_both) AS jaccard
        FROM inter
        WHERE n_both::DOUBLE / na >= 0.5
        ORDER BY contained_doc, container_doc
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL near-dup detection: containment C(A,B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the asymmetric measure
    (Broder's resemblance-vs-containment split; the dedup criterion
    RefinedWeb/FineWeb-class pipelines add on top of symmetric Jaccard)
    that catches a document EMBEDDED in a larger one: a quote, a
    syndicated article inside a portal page, a doc + boilerplate wrapper.
    Symmetric Jaccard misses exactly these (the union term is dominated by
    the container), so pairs here are dedup candidates ``dedup_ngram_jaccard``
    can never emit. Emits both directions with Jaccard alongside for
    contrast; downstream keeps the container and drops the contained copy.

    Scale notes (100 TB): identical candidate discipline to
    ``dedup_ngram_jaccard`` — inverted-index equi-join on distinct
    shingles (never an all-pairs comparison), per-doc shingle counts from
    a doc-partitioned window over already-exploded rows (no interpreted
    HOFs), only (doc_id, gram-hash) width shuffles. The directional join
    keeps BOTH orientations (a <> b, not a < b): same join cardinality
    class, each surviving pair read straight off the one aggregate. The
    division is row-level double arithmetic — bitwise identical across
    engines per the portability rules (no rounding anywhere)."""
    d = load(spark, sf_dir, "documents")
    distinct_grams = exploded_ngrams(widen(d), n=3, out="g").distinct()
    ex = distinct_grams.withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("doc_id"))
    )
    a = ex.select(
        F.col("doc_id").alias("contained_doc"), "g", F.col("n").alias("na")
    )
    b = ex.select(
        F.col("doc_id").alias("container_doc"), "g", F.col("n").alias("nb")
    )
    inter = (
        a.join(b, "g")
        .filter(F.col("contained_doc") != F.col("container_doc"))
        .groupBy("contained_doc", "container_doc")
        .agg(
            F.count(F.lit(1)).alias("n_both"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    cont = F.col("n_both") / F.col("na")
    jac = F.col("n_both") / (F.col("na") + F.col("nb") - F.col("n_both"))
    return (
        inter.select(
            "contained_doc",
            "container_doc",
            cont.cast("double").alias("containment"),
            jac.cast("double").alias("jaccard"),
        )
        .filter(F.col("containment") >= 0.5)
        .orderBy("contained_doc", "container_doc")
    )

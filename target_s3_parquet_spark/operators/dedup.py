"""Deduplication operators over ``documents``: exact, MinHash-LSH,
SimHash, and n-gram Jaccard near-dup.

Design notes for 100 TB:
- Exact dedup is a hash-groupBy on a 256-bit content hash — one shuffle
  of (hash, doc_id), never of the document bodies.
- MinHash/LSH: per-doc signature is a map-side projection; the only
  shuffle is the band-bucket join on short keys. No all-pairs product —
  candidate pairs are generated per bucket, verified by exact Jaccard.
- All hashing is md5-based so the DuckDB oracle can reproduce every
  stage bit-for-bit (Spark's murmur `F.hash` has no cross-engine twin).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from target_s3_parquet_spark._snapshot import (
    session_memo,
    snapshot_persisted,
    snapshot_small,
)
from target_s3_parquet_spark.operators._util import (
    fan_out_scan,
    register_cache,
    t,
)
from target_s3_parquet_spark.registry import QUERIES, query


@query(
    "text_exact_dedup",
    """
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def text_exact_dedup(spark, sf_dir):
    """Exact dedup: group on sha256(text), keep the lowest doc_id.
    The deterministic keep-rule matters at scale — `dropDuplicates` keeps
    an arbitrary row; MIN over the key column is reproducible."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "text_exact_dedup_rows",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def text_exact_dedup_rows(spark, sf_dir):
    """The surviving-row form of exact dedup (what a pipeline keeps)."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
# Signature: ONE md5 per shingle (28-bit prefix as the base hash),
# then a universal affine family h_i(x) = (A_i·x + B_i) mod P with
# P = 2^31−1 — H multiply-mods instead of H md5 calls per gram (the
# md5-per-hash form cost 3.4s/6.8s in BENCH; the affine family is the
# standard minhash construction and ~Hx cheaper map-side). A_i/B_i are
# md5-derived literals baked into the plan, the arithmetic stays under
# 2^59 (28-bit base × 31-bit multiplier) so int64 never overflows, and
# — the point — both engines compute it bit-identically, so the WHOLE
# LSH pipeline (signatures → band keys → candidate join → Jaccard
# verify) carries a DuckDB oracle. B bands × R rows = H; two docs
# collide if any band's R minhashes all match.
#
# R/B are OPERATOR PARAMETERS (SCALE.md τ→R policy): collision
# probability per band is s^R for Jaccard s, so R must grow with corpus
# size to keep per-bucket candidate lists bounded. The registered keys
# pin two profiles of the same parameterized operator:
#   demo  R=3, B=4 (H=12) — low-R so the sparse synthetic corpus still
#                            yields candidate pairs to verify;
#   prod  R=8, B=4 (H=32) — the production near-dup profile; candidate
#                            volume drops ~|buckets|× (exponential in
#                            ΔR), which `minhash_candidate_stats` pins
#                            numerically as an oracle-checked result.
_MH_H = 12  # hash functions (demo)
_MH_B = 4  # bands (demo)
_MH_R = 3  # rows per band (demo)
_MH_PROD_B = 4
_MH_PROD_R = 8
_MH_THRESHOLD = 0.30  # verified Jaccard cutoff
_MH_P = 2_147_483_647  # 2^31 − 1 (Mersenne prime), the mod of the family

import hashlib as _hashlib


def _mh_coeff(i: int) -> tuple[int, int]:
    """Deterministic (A_i, B_i) for hash i, derived from md5 so the
    family is fixed across engines/runs. A_i is odd and nonzero."""
    d = _hashlib.md5(f"mh:{i}".encode()).digest()
    a = (int.from_bytes(d[:4], "big") % (_MH_P - 1)) | 1
    b = int.from_bytes(d[4:8], "big") % _MH_P
    return a, b

_GRAMS_CTES = """
    grams AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
                       i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))
      )) AS gram
      FROM documents
    ),
    sets AS (
      SELECT doc_id, list_sort(list(gram)) AS grams FROM grams GROUP BY doc_id
    ),
    ghash AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(gram), 1, 7)) AS BIGINT) AS h
      FROM grams
    )"""


def _mh_candidate_ctes(bands: int, rows_per_band: int, sfx: str = "") -> str:
    """DuckDB CTEs from ``ghash`` → candidate pairs for one (B, R)
    profile; ``sfx`` disambiguates CTE names when two profiles share a
    query (minhash_candidate_stats)."""
    h = bands * rows_per_band
    minhashes = ", ".join(
        "MIN(({a} * h + {b}) % {p}) AS mh{i}".format(
            a=_mh_coeff(i)[0], b=_mh_coeff(i)[1], p=_MH_P, i=i
        )
        for i in range(h)
    )
    band_cols = ", ".join(
        "md5("
        + " || ':' || ".join(
            f"CAST(mh{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        + f") AS band{b}"
        for b in range(bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_no, band{b} AS band_key FROM sigs{sfx}"
        for b in range(bands)
    )
    return f"""
    sigs0{sfx} AS (
      SELECT doc_id, {minhashes} FROM ghash GROUP BY doc_id
    ),
    sigs{sfx} AS (
      SELECT doc_id, {band_cols} FROM sigs0{sfx}
    ),
    band_rows{sfx} AS ({band_rows}),
    candidates{sfx} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM band_rows{sfx} a JOIN band_rows{sfx} b
        ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )"""


def _minhash_sql(bands: int = _MH_B, rows_per_band: int = _MH_R) -> str:
    """Full verified-pair oracle for one profile."""
    return f"""
    WITH {_GRAMS_CTES},
    {_mh_candidate_ctes(bands, rows_per_band)}
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
           / (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams)))
             AS jaccard
    FROM candidates c
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
          / (len(sa.grams) + len(sb.grams) - len(list_intersect(sa.grams, sb.grams)))
          >= {_MH_THRESHOLD}
    """


def _minhash_docs(spark, sf_dir):
    """Per-doc distinct word-3-gram shingles, cached (feeds signatures,
    band rows, and the Jaccard verify — 3 DAG branches, 1 shingle pass).
    At cluster scale the same role is played by persisting to a staging
    parquet (or MEMORY_AND_DISK).

    r13: the r12 `fan_out_scan` here is REVERTED. It added a full-width
    (doc_id, text) round-robin shuffle ahead of LIGHT per-row gram work
    (split + slice, no Levenshtein/md5-per-position), and the driver's
    r12 measurement showed text_near_dedup_minhash/_prod at 0.51x/0.61x
    their r11 times (2.03 s vs 1.05 s at 32c, still +30% at 8c) with the
    builder's own floor protocol agreeing (+22%/+9%). Exactly the
    guide-§2.4 accidental-`repartition(n)` trap the helper's docstring
    warns about: the exchange costs more than the single-split map work
    it parallelizes. fan_out stays in the FS/CDC/simhash paths where
    per-row pre-shuffle work is provably heavy."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    grams = F.when(
        F.size(words) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 3),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("doc_id", grams.alias("grams"))
        .filter(F.size("grams") > 0)
        .cache()
    )


def minhash_candidates(docs, bands: int, rows_per_band: int):
    """Candidate pairs for one (B, R) profile: map-side signatures →
    posexplode band keys → bucket equi-join. The ONLY shuffle moves
    (doc_id, band_key) rows, never documents."""
    h = bands * rows_per_band
    base = F.conv(F.substring(F.md5(F.col("gram")), 1, 7), 16, 10).cast("long")
    exploded = docs.select(
        "doc_id", F.explode("grams").alias("gram")
    ).select("doc_id", base.alias("h"))
    sig = exploded.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_mh_coeff(i)[0]) * F.col("h") + F.lit(_mh_coeff(i)[1]))
                % F.lit(_MH_P)
            ).alias(f"mh{i}")
            for i in range(h)
        ]
    )
    # All B band keys in one projection + posexplode — a single pass
    # over the signatures instead of B unioned scans.
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    band_rows = sig.select(
        "doc_id", F.posexplode(band_arr).alias("band_no", "band_key")
    )
    a = band_rows.alias("a")
    b_ = band_rows.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def near_dedup_minhash(
    spark,
    sf_dir,
    *,
    bands: int = _MH_B,
    rows_per_band: int = _MH_R,
    threshold: float = _MH_THRESHOLD,
):
    """MinHash-LSH near-duplicate detection, the 100 TB shape:

    1. per-doc word-3-gram shingles (map-side projection),
    2. H = B×R affine minhashes over one md5 base hash per shingle →
       B band keys per doc (map-side),
    3. candidate pairs via self-join ON (band_no, band_key) — the ONLY
       shuffle moves (doc_id, 16-char key) rows, never documents,
    4. exact Jaccard verify on the candidates only, ≥ threshold kept.

    No all-pairs product anywhere: cost is O(docs × H) hashing plus a
    bucket-local join. Skewed buckets (boilerplate shingles) are split
    by AQE skew-join handling. R (rows per band) controls bucket
    selectivity — grow it with corpus size per SCALE.md's τ→R policy.
    """
    docs = _minhash_docs(spark, sf_dir)
    candidates = minhash_candidates(docs, bands, rows_per_band)
    sets = docs.select("doc_id", F.array_sort("grams").alias("grams"))
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.grams"), F.col("sb.grams")))
    uni = F.size(F.col("sa.grams")) + F.size(F.col("sb.grams")) - inter
    jac = inter.cast("double") / uni
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@query("text_near_dedup_minhash", _minhash_sql())
def text_near_dedup_minhash(spark, sf_dir):
    """Demo profile (R=3, B=4): see :func:`near_dedup_minhash`."""
    return near_dedup_minhash(spark, sf_dir)


@query("text_near_dedup_minhash_prod", _minhash_sql(_MH_PROD_B, _MH_PROD_R))
def text_near_dedup_minhash_prod(spark, sf_dir):
    """Production profile (R=8, B=4, H=32): the SAME parameterized
    operator with bucket selectivity sized for corpus scale — band
    collision probability is s^8, so unrelated documents effectively
    never share a bucket and candidate volume stays ~linear in corpus
    size (pinned by `minhash_candidate_stats`). The tradeoff is recall
    at the low end: pairs barely over the 0.30 threshold may be missed,
    which is the correct production posture (τ→R policy in SCALE.md)."""
    return near_dedup_minhash(
        spark, sf_dir, bands=_MH_PROD_B, rows_per_band=_MH_PROD_R
    )


@query(
    "minhash_candidate_stats",
    f"""
    WITH {_GRAMS_CTES},
    {_mh_candidate_ctes(_MH_B, _MH_R, "_demo")},
    {_mh_candidate_ctes(_MH_PROD_B, _MH_PROD_R, "_prod")}
    SELECT 'demo_r{_MH_R}' AS profile,
           (SELECT COUNT(*) FROM candidates_demo) AS n_candidates
    UNION ALL
    SELECT 'prod_r{_MH_PROD_R}',
           (SELECT COUNT(*) FROM candidates_prod)
    ORDER BY profile
    """,
)
def minhash_candidate_stats(spark, sf_dir):
    """Candidate-volume comparison between the demo (R=3) and prod
    (R=8) profiles — the oracle-checked record that raising R collapses
    the candidate set (the quantity that must stay ~linear in corpus
    size for LSH dedup to run at 100 TB)."""
    docs = _minhash_docs(spark, sf_dir)
    demo = minhash_candidates(docs, _MH_B, _MH_R).agg(
        F.count("*").alias("n_candidates")
    ).select(F.lit(f"demo_r{_MH_R}").alias("profile"), "n_candidates")
    prod = minhash_candidates(docs, _MH_PROD_B, _MH_PROD_R).agg(
        F.count("*").alias("n_candidates")
    ).select(F.lit(f"prod_r{_MH_PROD_R}").alias("profile"), "n_candidates")
    return demo.unionAll(prod)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
_SH_BITS = 24  # demo width; production uses 64 via the same construction


def _simhash_sql() -> str:
    word_hash = "CAST(('0x' || substring(md5(word), 1, 8)) AS BIGINT)"
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({word_hash} // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" AS s{b}"
        for b in range(_SH_BITS)
    )
    recombine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(_SH_BITS)
    )
    return f"""
    WITH words AS (
      SELECT doc_id, UNNEST(list_distinct(string_split(lower(text), ' '))) AS word
      FROM documents
    ),
    bitsums AS (
      SELECT doc_id, {bit_sums} FROM words GROUP BY doc_id
    )
    SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash
    FROM bitsums
    """


@query("text_simhash", _simhash_sql())
def text_simhash(spark, sf_dir):
    """SimHash document fingerprints: each distinct word votes ±1 per
    bit position of its md5-derived hash; the sign vector packs into an
    integer whose Hamming distance approximates cosine similarity of
    the bag-of-words. All map-side + one groupBy — a pure linear scan
    at any scale. Near-dup candidates then come from banding the
    simhash bits exactly like MinHash bands."""
    d = t(spark, sf_dir, "documents")
    words_df = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias(
            "word"
        ),
    )
    h = F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
    bit_sums = [
        F.sum(
            F.when(((h / F.lit(1 << b)).cast("long") % 2) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(_SH_BITS)
    ]
    sums = words_df.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(_SH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sums.select("doc_id", simhash.cast("long").alias("simhash"))


@query(
    "text_ngram_jaccard_dup",
    """
    WITH sets AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
                              i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))
             )) AS grams
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.grams, b.grams)) AS inter,
             len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS uni
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE a.doc_id < 64 AND b.doc_id < 64
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / uni AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / uni >= 0.2
    """,
)
def text_ngram_jaccard_dup(spark, sf_dir):
    """Word-3-gram Jaccard similarity above a threshold, on a bounded
    doc_id window (the unbounded version goes through LSH banding —
    `text_near_dedup_minhash` — never an open cross join)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    words = F.split(F.lower(F.col("text")), " ")
    # Guard: Spark's sequence(0, n) with n<0 counts DOWN; short docs must
    # yield an empty gram set like DuckDB's range() does.
    grams = F.when(F.size(words) >= 3,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(words) - 3),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
                )
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sets = d.select("doc_id", grams.alias("grams"))
    a = sets.alias("a")
    b = sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    uni = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    jac = inter.cast("double") / uni
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


# ---------------------------------------------------------------------------
# Near-dup cluster assignment (connected components)
# ---------------------------------------------------------------------------
_CC_SETS_SQL = """
    sets AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
                              i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))
             )) AS grams
      FROM documents WHERE doc_id < 64
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sets a JOIN sets b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
            >= 0.2
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    )
"""


@query(
    "text_dedup_clusters",
    f"""
    WITH RECURSIVE
    {_CC_SETS_SQL},
    walk(doc_id, reach) AS (
      SELECT doc_id, doc_id FROM sets
      UNION
      SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    )
    SELECT doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY doc_id
    """,
)
def text_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTER assignment: connected components over the
    similarity graph (edges = word-3-gram Jaccard >= 0.2 on the bounded
    window), every document labeled with the smallest doc_id reachable
    from it. Pairwise dedup keeps transitive duplicates (A~B, B~C, but
    A!~C) in separate decisions; clustering resolves the whole group at
    once — the keep-one-per-cluster policy a corpus dedup actually ships.

    Spark side is iterative min-label propagation (the standard
    large-graph CC algorithm — GraphX/Pregel's small-star step): each
    round every node takes the min label among itself and its
    neighbors; converges in graph-diameter rounds (near-dup clusters
    are shallow — diameter 2-3). Each round is one shuffle-join of the
    label table against the edge list; `localCheckpoint` truncates the
    growing lineage. The driver-side loop is bounded control flow, not
    data flow — per-round data movement stays fully distributed. The
    DuckDB oracle computes the same fixpoint as a recursive CTE
    (transitive closure + MIN), so the iterative algorithm is
    value-verified, not rows-only."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    words = F.split(F.lower(F.col("text")), " ")
    grams = F.when(
        F.size(words) >= 3,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(words) - 3),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
                )
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sets = d.select("doc_id", grams.alias("grams"))
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    uni = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(inter.cast("double") / uni >= 0.2)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    edges = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    labels = sets.select("doc_id", F.col("doc_id").alias("cluster_id"))
    for _ in range(20):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@query(
    "text_dedup_keep_best",
    f"""
    WITH RECURSIVE
    {_CC_SETS_SQL},
    walk(doc_id, reach) AS (
      SELECT doc_id, doc_id FROM sets
      UNION
      SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
    ),
    clusters AS (
      SELECT doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY doc_id
    ),
    scored AS (
      SELECT c.doc_id, c.cluster_id,
             (CASE WHEN LENGTH(d.text) BETWEEN 100 AND 5000 THEN 0.5 ELSE 0.0 END
              + CASE WHEN CAST(LENGTH(regexp_replace(d.text, '[a-zA-Z0-9 ]', '', 'g'))
                           AS DOUBLE) / LENGTH(d.text) < 0.1 THEN 0.3 ELSE 0.0 END
              + CASE WHEN len(string_split(d.text, ' ')) >= 10 THEN 0.2 ELSE 0.0 END)
               AS quality
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id, quality FROM (
      SELECT doc_id, cluster_id, quality,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rn
      FROM scored)
    WHERE rn = 1
    """,
)
def text_dedup_keep_best(spark, sf_dir):
    """Policy-driven dedup: within each near-dup cluster (connected
    components over the Jaccard graph, as `text_dedup_clusters`), keep
    the HIGHEST-QUALITY document rather than the lowest id — the
    policy a real corpus build wants (near-dups differ by boilerplate;
    keep the cleanest copy). Cluster labels join the quality scores,
    and a per-cluster top-1 window picks the survivor (deterministic
    tiebreak on doc_id). Composition proof-point: clustering, scoring,
    and selection are the already-verified operators chained in one
    plan."""
    labels = QUERIES["text_dedup_clusters"](spark, sf_dir)
    d = t(spark, sf_dir, "documents")
    n = F.length("text")
    n_words = F.size(F.split("text", " "))
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    quality = (
        F.when(n.between(100, 5000), 0.5).otherwise(0.0)
        + F.when(n_punct.cast("double") / n < 0.1, 0.3).otherwise(0.0)
        + F.when(n_words >= 10, 0.2).otherwise(0.0)
    )
    scored = labels.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", "cluster_id", quality.alias("quality")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "quality")
    )


@query(
    "dedup_incremental_registry",
    """
    WITH registry AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    ),
    batch AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
    ),
    new_unique AS (
      SELECT doc_id, h FROM (
        SELECT b.doc_id, b.h,
               ROW_NUMBER() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
        FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM registry r WHERE r.h = b.h))
      WHERE rn = 1
    )
    SELECT 'accepted' AS outcome, COUNT(*) AS n FROM new_unique
    UNION ALL
    SELECT 'rejected', (SELECT COUNT(*) FROM batch) - COUNT(*) FROM new_unique
    """,
)
def dedup_incremental_registry(spark, sf_dir):
    """INCREMENTAL dedup — the shape a 100 TB corpus actually runs
    daily: new documents are checked against the persisted hash
    REGISTRY of everything already accepted (here: the first 250 docs
    stand in for the historical registry, the rest for today's batch),
    plus within-batch dedup, and only the survivors append to corpus +
    registry. Cost is O(batch) hashing plus one anti join against the
    registry — the historical CORPUS is never rescanned, only its hash
    column (at scale: a bucketed hash-only table, so the anti join is
    also shuffle-free). Re-deduping the whole corpus per ingest cycle
    is the anti-pattern this replaces."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    registry = (
        d.filter(F.col("doc_id") < 250).select(F.md5("text").alias("h")).distinct()
    )
    batch = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", F.md5("text").alias("h")
    )
    w = W.partitionBy("h").orderBy("doc_id")
    new_unique = (
        batch.join(registry, "h", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    n_batch = batch.count()
    accepted = new_unique.agg(
        F.lit("accepted").alias("outcome"), F.count("*").alias("n")
    )
    rejected = new_unique.agg(
        F.lit("rejected").alias("outcome"),
        (F.lit(n_batch) - F.count("*")).alias("n"),
    )
    return accepted.unionAll(rejected)


@query(
    "docs_line_dedup",
    """
    WITH b AS (
      SELECT doc_id, block_no,
             array_to_string(words[block_no*3+1 : block_no*3+3], ' ')
               AS block_text
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               UNNEST(range(0, CAST(CEIL(len(string_split(text, ' ')) / 3.0)
                                    AS BIGINT))) AS block_no
        FROM documents)
    ),
    k AS (
      SELECT doc_id, block_no, block_text,
             MIN(doc_id * 1000000 + block_no)
               OVER (PARTITION BY block_text) AS keeper
      FROM b
    )
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN doc_id * 1000000 + block_no = keeper
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(
             CASE WHEN doc_id * 1000000 + block_no = keeper
                  THEN block_text END, ' ' ORDER BY block_no), '')
             AS cleaned_text
    FROM k GROUP BY doc_id
    """,
)
def docs_line_dedup(spark, sf_dir):
    """Cross-document line-level dedup (the CCNet / RefinedWeb
    boilerplate-removal pass): documents are cut into fixed 3-word
    blocks (standing in for lines -- the synthetic corpus has no
    newlines), every block that appears anywhere else in the corpus
    survives only at its first occurrence (min (doc_id, block_no)),
    and each document is reassembled from its surviving blocks.

    Scale shape: explode to one row per block (pure map-side), ONE
    shuffle on block_text for the global first-occurrence window, one
    shuffle back on doc_id for reassembly. No pairwise comparisons --
    cost is O(total blocks), the same two-exchange plan at 100 TB. In
    production the block key would be a hash (shuffle 8-byte keys,
    not text); the text key here keeps the oracle readable."""
    bs = 3
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    blocks = d.select(
        "doc_id",
        words.alias("w"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(words) / F.lit(float(bs))).cast("int") - 1,
            )
        ).alias("block_no"),
    ).select(
        "doc_id",
        "block_no",
        F.array_join(
            F.slice(F.col("w"), F.col("block_no") * bs + 1, bs), " "
        ).alias("block_text"),
    )
    from pyspark.sql import Window as W

    key = F.col("doc_id") * 1000000 + F.col("block_no")
    keeper = F.min(key).over(W.partitionBy("block_text"))
    k = blocks.select(
        "doc_id", "block_no", "block_text", keeper.alias("keeper"),
        key.alias("key"),
    )
    kept_struct = F.when(
        F.col("key") == F.col("keeper"),
        F.struct("block_no", "block_text"),
    )
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((F.col("key") == F.col("keeper")).cast("int")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)),
                lambda x: x.block_text,
            ),
            " ",
        ).alias("cleaned_text"),
    )


_SPAN_W = 8  # words per window (the 50-token window of Lee et al. 2022,
#              scaled to the fixture's ~50-word documents)


@query(
    "docs_substring_dedup_spans",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             md5(array_to_string(w[i : i + {_SPAN_W - 1}], ' ')) AS win_hash
      FROM w, UNNEST(range(1, len(w) - {_SPAN_W - 2})) AS u(i)
      WHERE len(w) >= {_SPAN_W}
    )
    SELECT win_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc_id
    FROM win
    GROUP BY win_hash
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def docs_substring_dedup_spans(spark, sf_dir):
    """Cross-document repeated-substring detection — the primitive of
    exact SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): every
    8-word window is hashed and windows occurring in MORE THAN ONE
    document are reported (count of docs, total occurrences, lowest
    containing doc). Complements document-level dedup: boilerplate,
    licenses, and templated passages repeat across otherwise-distinct
    documents, and span-level removal is what the paper shows matters.

    Distributed shape: window extraction is a pure map-side
    transform+posexplode (no suffix array needed — fixed-length window
    hashing finds every duplicated span of >= w words, since any such
    span contains a duplicated w-window); the ONLY shuffle carries
    (win_hash, doc_id) pairs — never document text — into a combinable
    groupBy. At 100 TB: w=50 tokens, i64 rolling hashes instead of md5
    (md5 here because DuckDB replays it bit-for-bit), and the output
    joins back to docs as span blocklist — the same one-shuffle shape.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    win = (
        d.filter(F.size("w") >= _SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (_SPAN_W - 1)),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("w"), i, _SPAN_W), " ")
                    ),
                )
            ).alias("win_hash"),
        )
    )
    return (
        win.groupBy("win_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "docs_substring_dedup_apply",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents
    ),
    win AS (
      SELECT doc_id, i,
             md5(array_to_string(w[i : i + {_SPAN_W - 1}], ' ')) AS win_hash
      FROM w, UNNEST(range(1, len(w) - {_SPAN_W - 2})) AS u(i)
      WHERE len(w) >= {_SPAN_W}
    ),
    dup AS (
      SELECT win_hash, MIN(doc_id) AS first_doc_id
      FROM win
      GROUP BY win_hash
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    rm AS (
      SELECT win.doc_id, win.i
      FROM win JOIN dup USING (win_hash)
      WHERE win.doc_id > dup.first_doc_id
    ),
    rmpos AS (
      SELECT doc_id,
             list_sort(list_distinct(flatten(list(range(i, i + {_SPAN_W})))))
               AS rm
      FROM rm
      GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(COALESCE(len(list_filter(rmpos.rm,
                  p -> NOT list_contains(rmpos.rm, p - 1))), 0) AS BIGINT)
             AS n_spans_removed,
           CAST(COALESCE(len(rmpos.rm), 0) AS BIGINT) AS n_words_removed,
           COALESCE(array_to_string(
             list_filter(w.w, (x, i) ->
               rmpos.rm IS NULL OR NOT list_contains(rmpos.rm, i)),
             ' '), '') AS cleaned_text
    FROM w LEFT JOIN rmpos ON w.doc_id = rmpos.doc_id
    """,
)
def docs_substring_dedup_apply(spark, sf_dir):
    """Substring-dedup REMOVAL — the actual Lee et al. 2022
    (arXiv:2107.06499) apply step that `docs_substring_dedup_spans`
    only detects: every duplicated 8-word window is deleted from every
    document EXCEPT the lowest-doc_id occurrence owner (keep-first, the
    same deterministic rule as `text_exact_dedup`), overlapping windows
    coalescing into maximal spans, and the cleaned corpus is emitted —
    every document, with pass-through text when nothing was removed,
    plus per-doc span/word removal counters.

    Span merge WITHOUT interval arithmetic: the removal set is the
    UNION of word positions covered by any removal window
    (``flatten → distinct → sort`` over per-window position ranges), so
    overlapping and adjacent windows merge for free; ``n_spans_removed``
    recovers the maximal-span count as positions whose predecessor is
    absent from the set. Cleaning is an index-aware ``filter`` lambda
    over the word array — both engines support the (element, index)
    form, 1-based via pos+1 on the Spark side.

    Distributed shape: window extraction is map-side posexplode; shuffle
    1 groups (win_hash, doc_id) to find duplicated hashes; shuffle 2 is
    the equi-join of windows to the duplicated-hash list; shuffle 3
    groups removal positions per doc; the final equi-join attaches the
    bounded per-doc position array back to the corpus. Document text
    crosses the wire once (the final join) — position sets, not spans of
    text, flow through the dedup core, which is what keeps this viable
    when the corpus is 100 TB but the duplicated-window table is not.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    win = (
        d.filter(F.size("w") >= _SPAN_W)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (_SPAN_W - 1)),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("w"), i, _SPAN_W), " ")
                    ),
                )
            ).alias("pos0", "win_hash"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("i"), "win_hash")
    )
    dup = (
        win.groupBy("win_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .select("win_hash", "first_doc_id")
    )
    rm = win.join(dup, "win_hash").filter(
        F.col("doc_id") > F.col("first_doc_id")
    )
    rmpos = rm.groupBy("doc_id").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("i"), F.col("i") + (_SPAN_W - 1)))
                )
            )
        ).alias("rm")
    )
    out = d.join(rmpos, "doc_id", "left")
    n_spans = F.size(
        F.filter(
            F.col("rm"),
            lambda p: ~F.array_contains(F.col("rm"), p - 1),
        )
    )
    cleaned = F.array_join(
        F.filter(
            F.col("w"),
            lambda x, i: F.col("rm").isNull()
            | ~F.array_contains(F.col("rm"), i + 1),
        ),
        " ",
    )
    return out.select(
        "doc_id",
        F.coalesce(n_spans, F.lit(0)).cast("long").alias("n_spans_removed"),
        F.coalesce(F.size("rm"), F.lit(0)).cast("long").alias("n_words_removed"),
        cleaned.alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin)
# ---------------------------------------------------------------------------
# Bayardo, Ma, Srikant, "Scaling Up All Pairs Similarity Search" (WWW'07)
# and Xiao et al., "Efficient Similarity Joins for Near Duplicate
# Detection" (WWW'08, PPJoin). The EXACT alternative to MinHash banding:
# order every doc's gram set by ascending global document frequency
# (rarest first); for Jaccard >= t a pair MUST collide inside each
# side's first |x| - ceil(t*|x|) + 1 grams, so exploding only that
# prefix into the candidate self-join prunes the pair space without
# losing a single true pair. Measured at sf0.1 (5k docs, t=0.5):
# 12,497,500 possible pairs -> 309,803 prefix candidates -> 256 true
# pairs. The rarest-first order is what bounds the join's skew: the
# most frequent grams (the heavy buckets) appear in the FEWEST
# prefixes, inverting the usual hot-key problem.

_AP_T = 0.5  # Jaccard threshold; prefix arithmetic below is exact for t=1/2

# Word-3-gram sets, one row per doc (same shingling as the jaccard
# family above, unbounded: prefix filtering is the subquadratic path).
_AP_SETS_SQL = """
    sets AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
                              i -> array_to_string(string_split(lower(text), ' ')[i:i+2], ' '))
             ) AS grams
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, len(grams) AS sz, unnest(grams) AS gram FROM sets
    )
"""

# Oracle ground truth is the INVERTED-INDEX exact join (no prefix
# filter): every pair sharing >= 1 gram, intersection counted by the
# gram-equality join itself. Verifying the Spark result (prefix-
# filtered) against this unfiltered truth is the completeness proof —
# a prefix bug that drops a true pair hash-mismatches the gate.
_AP_TRUTH_SQL = """
    truth AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS inter,
             any_value(a.sz) AS sa, any_value(b.sz) AS sb
      FROM toks a JOIN toks b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""


# Session-scoped snapshots of the AllPairs index artifacts: FIVE keys
# (prefix join, filter stats, positional stats, suffix stats, the
# cross-source dup matrix) share the ordered-set build and the
# collision aggregate, and before r6 each rebuilt them independently
# (~2-4 s apiece at sf0.1). Keyed by (applicationId, sf_dir, variant);
# snapshot_persisted survives the harness's clearCache() between keys
# because it is a parquet scan, not a .cache() — same precedent as the
# ER edge-list cache (`text_analysis._ER_MP_SNAP`). At 100 TB this IS
# the AllPairs preprocessing pass written where results live.
_AP_SNAP: dict = {}


def _ap_snapshot(spark, sf_dir, variant, builder):
    key = (spark.sparkContext.applicationId, sf_dir, variant)
    return session_memo(
        _AP_SNAP, key, lambda: snapshot_persisted(builder(), f"ap_{variant}")
    )


def _ap_ordered(spark, sf_dir):
    """(doc_id, grams rarest-first, sz): word-3-gram sets re-ordered by
    ascending corpus document frequency with the gram string as the
    tiebreak — a TOTAL order, so Spark and the DuckDB replay build
    byte-identical prefixes. One shuffle to count gram frequencies
    (map-side combined) and one to regroup per doc; both key on short
    strings, never document bodies. Materialized once per
    (session, sf_dir) — see `_AP_SNAP`.

    The word array is PROJECTED before the gram transform: Catalyst
    does no common-subexpression elimination inside higher-order-
    function lambdas, so an inline `split(lower(text))` re-tokenizes
    the document once per gram (measured 5x slower at sf0.1). The scan
    is repartitioned first for the same reason `_lsh_vectors` does it:
    the sf0.1 table is ONE parquet file, and explode's implicit
    not-null filter pushdown re-inlines the gram transform into the
    scan stage — repartitioning keeps that (tripled) evaluation 32-way
    parallel instead of single-task (11 s → ~4 s cold at sf0.1)."""

    def build():
        d = t(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
        w = d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
            )
        )
        sets = w.filter(F.size("w") >= 3).select(
            "doc_id", grams.alias("grams")
        )
        toks = sets.select("doc_id", F.explode("grams").alias("gram"))
        freq = toks.groupBy("gram").agg(F.count("*").alias("df"))
        return (
            toks.join(freq, "gram")
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "gram"))),
                    lambda s: s["gram"],
                ).alias("grams")
            )
            .select("doc_id", "grams", F.size("grams").alias("sz"))
        )

    return _ap_snapshot(spark, sf_dir, "ordered", build)


def _ap_coll(spark, sf_dir):
    """The shared collision AGGREGATE over the prefix self-join: one
    row per candidate pair with (sa, sb, n_coll, ia, jb) — the prefix
    tier's candidate set (its keys) AND the positional/suffix tiers'
    input. Positions are identical whether grams are raw or df-padded
    (same total order), so ONE snapshot serves every tier. This is the
    expensive subtree of the whole family (the only data-sized join);
    materialized once per (session, sf_dir)."""

    def build():
        ordered = _ap_ordered(spark, sf_dir)
        pref = ordered.select(
            "doc_id",
            "sz",
            F.posexplode(F.expr("slice(grams, 1, sz DIV 2 + 1)")).alias(
                "pos0", "gram"
            ),
        ).select("doc_id", "sz", "gram", (F.col("pos0") + 1).alias("pos"))
        a, b = pref.alias("a"), pref.alias("b")
        return (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("b.sz") * 2 >= F.col("a.sz"))
                & (F.col("a.sz") * 2 >= F.col("b.sz")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(
                F.first("a.sz").alias("sa"),
                F.first("b.sz").alias("sb"),
                F.count("*").alias("n_coll"),
                F.max("a.pos").alias("ia"),
                F.max("b.pos").alias("jb"),
            )
        )

    return _ap_snapshot(spark, sf_dir, "coll", build)


def _ap_candidates(ordered):
    """Distinct (doc_a < doc_b) pairs colliding inside the t=0.5 prefix
    (sz DIV 2 + 1 rarest grams — integer-exact form of
    |x| - ceil(t|x|) + 1), with the size filter 2*min(sz) >= max(sz)
    (|A inter B| >= t/(1+t)*(|A|+|B|) forces t <= |B|/|A| <= 1/t)
    applied IN the join condition so dominated rows never leave the
    probe side."""
    pref = ordered.select(
        "doc_id", "sz", F.explode(F.expr("slice(grams, 1, sz DIV 2 + 1)")).alias("gram")
    )
    a, b = pref.alias("a"), pref.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * 2 >= F.col("a.sz"))
            & (F.col("a.sz") * 2 >= F.col("b.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _ap_true_pairs(ordered, cand=None):
    """Exact verify over a PREBUILT ordered-set table: prefix candidates
    -> array_intersect Jaccard -> threshold. Factored out so the stats
    keys thread ONE materialization through both their funnel counts
    and this true-pair recount (ADVICE r5); pass ``cand`` (doc_a,
    doc_b) to reuse the `_ap_coll` snapshot's pair set instead of
    re-deriving it."""
    if cand is None:
        cand = _ap_candidates(ordered)
    xa = ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("ga"),
        F.col("sz").alias("sa"),
    )
    xb = ordered.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("gb"),
        F.col("sz").alias("sb"),
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter.cast("double") / (F.col("sa") + F.col("sb") - inter)
    return (
        cand.join(xa, "doc_a")
        .join(xb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _AP_T)
    )


@query(
    "text_allpairs_prefix_join",
    f"""
    WITH {_AP_SETS_SQL},
    {_AP_TRUTH_SQL}
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (sa + sb - inter) AS jaccard
    FROM truth
    WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= {_AP_T}
    """,
)
def text_allpairs_prefix_join(spark, sf_dir):
    """EXACT Jaccard >= 0.5 self-join over the FULL corpus via AllPairs
    prefix filtering (module banner above): candidates only where the
    rarest-first prefixes collide, then exact array_intersect verify.
    The oracle recomputes truth WITHOUT the filter, so a hash match is
    a machine-checked completeness proof of the pruning arithmetic.

    100 TB plan: gram-frequency groupBy (map-side combined) -> per-doc
    regroup -> prefix explode (~sz/2 rows/doc) -> equi-join on gram
    whose per-bucket volume is bounded BECAUSE frequent grams are
    excluded from prefixes -> distinct pair shuffle -> doc_id equi-join
    verify. No all-pairs product at any stage; contrast
    `text_ngram_jaccard_dup`, which caps doc_id<64 for exactly that
    reason."""
    return _ap_true_pairs(
        _ap_ordered(spark, sf_dir),
        _ap_coll(spark, sf_dir).select("doc_a", "doc_b"),
    )


@query(
    "text_allpairs_filter_stats",
    f"""
    WITH {_AP_SETS_SQL},
    {_AP_TRUTH_SQL},
    freq AS MATERIALIZED (
      SELECT gram, count(*) AS df FROM toks GROUP BY gram
    ),
    ordered AS MATERIALIZED (
      SELECT t.doc_id, any_value(t.sz) AS sz,
             list(t.gram ORDER BY f.df, t.gram) AS grams
      FROM toks t JOIN freq f USING (gram)
      GROUP BY t.doc_id
    ),
    pref AS MATERIALIZED (
      SELECT doc_id, sz, unnest(grams[1 : sz // 2 + 1]) AS gram
      FROM ordered
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
       AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
    )
    SELECT (SELECT count(*) FROM sets) AS n_docs,
           (SELECT count(*) * (count(*) - 1) // 2 FROM sets) AS total_pairs,
           (SELECT count(*) FROM cand) AS cand_pairs,
           (SELECT count(*) FROM truth
             WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= {_AP_T})
             AS true_pairs
    """,
)
def text_allpairs_filter_stats(spark, sf_dir):
    """Prefix-filter effectiveness, oracle-REPLAYED: DuckDB rebuilds the
    same rarest-first prefixes (the (df, gram) total order makes both
    builds byte-identical) and must land on the same candidate count —
    pinning the measured sf0.1 funnel 12,497,500 -> ~310k -> 256 as a
    gate-checked result, the AllPairs analogue of
    `lsh_candidate_stats`."""
    ordered = _ap_ordered(spark, sf_dir)
    cand = _ap_coll(spark, sf_dir).select("doc_a", "doc_b")
    n = ordered.agg(
        F.count("*").alias("n_docs"),
        (F.count("*") * (F.count("*") - F.lit(1)) / 2)
        .cast("long")
        .alias("total_pairs"),
    )
    cand_n = cand.agg(F.count("*").alias("cand_pairs"))
    # ONE shared pair of session snapshots (ordered + coll) feeds the
    # funnel counts and the true-pair recount (ADVICE r5).
    true_n = _ap_true_pairs(ordered, cand).agg(
        F.count("*").alias("true_pairs")
    )
    return snapshot_small(n.crossJoin(cand_n).crossJoin(true_n), max_rows=1)


@query(
    "text_ppjoin_positional_stats",
    f"""
    WITH {_AP_SETS_SQL},
    {_AP_TRUTH_SQL},
    freq AS MATERIALIZED (
      SELECT gram, count(*) AS df FROM toks GROUP BY gram
    ),
    ordered AS MATERIALIZED (
      SELECT t.doc_id, any_value(t.sz) AS sz,
             list(t.gram ORDER BY f.df, t.gram) AS grams
      FROM toks t JOIN freq f USING (gram)
      GROUP BY t.doc_id
    ),
    pref AS MATERIALIZED (
      SELECT doc_id, sz, u.gram AS gram, u.pos AS pos
      FROM ordered,
           unnest(list_transform(range(1, sz // 2 + 2),
                                 i -> struct_pack(gram := grams[i], pos := i))) AS t(u)
    ),
    coll AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             any_value(a.sz) AS sa, any_value(b.sz) AS sb,
             count(*) AS n_coll, max(a.pos) AS ia, max(b.pos) AS jb
      FROM pref a JOIN pref b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
       AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT (SELECT count(*) FROM coll) AS prefix_cand_pairs,
           (SELECT count(*) FROM coll
             WHERE n_coll + least(sa - ia, sb - jb)
                   >= (sa + sb + 2) // 3) AS positional_cand_pairs,
           (SELECT count(*) FROM truth
             WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= {_AP_T})
             AS true_pairs
    """,
)
def text_ppjoin_positional_stats(spark, sf_dir):
    """PPJoin's positional filter (Xiao et al., WWW'08 §3.2) as the
    oracle-replayed tier-2 pruning stat on top of
    `text_allpairs_prefix_join`'s prefix filter.

    For a candidate pair, collisions inside the two prefixes happen at
    consistent positions because BOTH gram lists share one total order
    (df, gram): every shared gram that is not a prefix collision sits
    after the LAST collision in both lists. Hence
    ``overlap <= n_coll + min(sa - ia, sb - jb)`` with (ia, jb) the
    last collision's 1-based positions — and Jaccard >= t requires
    ``overlap >= ceil(t/(1+t) * (sa+sb))`` (= ceil((sa+sb)/3) at
    t=0.5, the integer-exact (sa+sb+2) DIV 3). Pairs whose bound
    cannot reach that minimum are pruned WITHOUT touching the full
    gram arrays — position bookkeeping rides the same prefix-collision
    join, so the tier costs no extra shuffle. true_pairs <=
    positional_cand_pairs is the gate-checked completeness claim;
    prefix_cand_pairs - positional_cand_pairs is the measured extra
    pruning this tier buys at 100 TB before the array_intersect
    verify: at sf0.1 (t=0.5) 309,803 prefix candidates -> 119,907
    positional survivors (2.6x) with all 256 true pairs retained."""
    ordered = _ap_ordered(spark, sf_dir)
    coll = _ap_coll(spark, sf_dir)
    alpha = F.floor((F.col("sa") + F.col("sb") + 2) / 3)
    ubound = F.col("n_coll") + F.least(
        F.col("sa") - F.col("ia"), F.col("sb") - F.col("jb")
    )
    n_pref = coll.agg(F.count("*").alias("prefix_cand_pairs"))
    n_pos = coll.filter(ubound >= alpha).agg(
        F.count("*").alias("positional_cand_pairs")
    )
    # ONE shared pair of session snapshots (ordered + coll) feeds the
    # funnel counts and the true-pair recount (ADVICE r5).
    n_true = _ap_true_pairs(
        ordered, coll.select("doc_a", "doc_b")
    ).agg(F.count("*").alias("true_pairs"))
    return snapshot_small(
        n_pref.crossJoin(n_pos).crossJoin(n_true), max_rows=1
    )


def _ap_ordered_keyed(spark, sf_dir):
    """`_ap_ordered` with ORDER-COMPARABLE tokens: each gram is encoded
    as ``lpad(df, 10, '0') || '|' || gram`` so plain string comparison
    of two tokens IS the (df, gram) total order — which the suffix
    filter needs to binary-partition one suffix around an element of
    the other. The encoding is injective per gram (a gram always has
    one df), so intersections, sizes, prefixes, and collision positions
    are identical to the raw-gram table; array_sort on the encoded
    token replaces the (df, gram) struct sort. Materialized once per
    (session, sf_dir) — see `_AP_SNAP`."""

    def build():
        d = t(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
        w = d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
            )
        )
        sets = w.filter(F.size("w") >= 3).select(
            "doc_id", grams.alias("grams")
        )
        toks = sets.select("doc_id", F.explode("grams").alias("gram"))
        freq = toks.groupBy("gram").agg(F.count("*").alias("df"))
        keyed = F.concat(
            F.lpad(F.col("df").cast("string"), 10, "0"),
            F.lit("|"),
            F.col("gram"),
        )
        return (
            toks.join(freq, "gram")
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(keyed)).alias("grams"))
            .select("doc_id", "grams", F.size("grams").alias("sz"))
        )

    return _ap_snapshot(spark, sf_dir, "keyed", build)


@query(
    "text_ppjoin_suffix_stats",
    f"""
    WITH {_AP_SETS_SQL},
    {_AP_TRUTH_SQL},
    freq AS MATERIALIZED (
      SELECT gram, count(*) AS df FROM toks GROUP BY gram
    ),
    keyed AS MATERIALIZED (
      SELECT t.doc_id, any_value(t.sz) AS sz,
             list_sort(list(lpad(CAST(f.df AS VARCHAR), 10, '0')
                            || '|' || t.gram)) AS grams
      FROM toks t JOIN freq f USING (gram)
      GROUP BY t.doc_id
    ),
    pref AS MATERIALIZED (
      SELECT doc_id, sz, u.gram AS gram, u.pos AS pos
      FROM keyed,
           unnest(list_transform(range(1, sz // 2 + 2),
                                 i -> struct_pack(gram := grams[i], pos := i))) AS t(u)
    ),
    coll AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             any_value(a.sz) AS sa, any_value(b.sz) AS sb,
             count(*) AS n_coll, max(a.pos) AS ia, max(b.pos) AS jb
      FROM pref a JOIN pref b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
       AND 2 * b.sz >= a.sz AND 2 * a.sz >= b.sz
      GROUP BY a.doc_id, b.doc_id
    ),
    pos_surv AS MATERIALIZED (
      SELECT * FROM coll
      WHERE n_coll + least(sa - ia, sb - jb) >= (sa + sb + 2) // 3
    ),
    sfx AS MATERIALIZED (
      SELECT c.*, (c.sa + c.sb + 2) // 3 AS alpha,
             c.sa - c.ia AS len_a, c.sb - c.jb AS len_b,
             ka.grams[c.ia + 1:] AS suf_a, kb.grams[c.jb + 1:] AS suf_b
      FROM pos_surv c
      JOIN keyed ka ON ka.doc_id = c.doc_a
      JOIN keyed kb ON kb.doc_id = c.doc_b
    ),
    probed AS MATERIALIZED (
      SELECT *, suf_a[(len_a + 1) // 2] AS m FROM sfx
    ),
    halves AS MATERIALIZED (
      SELECT *,
             len(list_filter(suf_a, x -> x < m)) AS sal,
             len(list_filter(suf_b, x -> x < m)) AS sbl,
             CASE WHEN list_contains(suf_b, m) THEN 1 ELSE 0 END AS m_in_b
      FROM probed
    ),
    bounded AS MATERIALIZED (
      SELECT doc_a, doc_b, alpha,
             CASE WHEN len_a = 0 OR len_b = 0 THEN n_coll
                  ELSE n_coll
                       + least(sal, sbl)
                       + least(len_a - sal - 1, len_b - sbl - m_in_b)
                       + m_in_b
             END AS ub
      FROM halves
    )
    SELECT (SELECT count(*) FROM coll) AS prefix_cand_pairs,
           (SELECT count(*) FROM pos_surv) AS positional_cand_pairs,
           (SELECT count(*) FROM bounded WHERE ub >= alpha)
             AS suffix_cand_pairs,
           (SELECT count(*) FROM truth
             WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= {_AP_T})
             AS true_pairs
    """,
)
def text_ppjoin_suffix_stats(spark, sf_dir):
    """PPJoin+'s suffix filter (Xiao et al., WWW'08 §3.3) as the
    oracle-replayed TIER-3 pruning stat, on top of the prefix (tier 1)
    and positional (tier 2) filters.

    For a positional survivor, both docs' remaining grams after their
    last prefix collision — the SUFFIXES — are ordered by the same
    (df, gram) total order (tokens are df-padded strings, so string
    comparison IS that order). Probe the middle element m of suffix_a
    and partition BOTH suffixes around it: every common gram is < m,
    = m, or > m, so
    ``|suf_a ∩ suf_b| <= min(|sal|,|sbl|) + min(|sar|,|sbr|) + [m∈suf_b]``
    — a one-probe divide bound that is never looser than the positional
    tier's min(|suf_a|, |suf_b|) (each min is bounded by both sides'
    half). Pairs whose ``n_coll + bound`` cannot reach the overlap
    minimum ceil(t/(1+t)·(sa+sb)) are pruned without touching the full
    arrays' intersection. Integer-exact, so DuckDB replays the funnel
    bit-for-bit: prefix -> positional -> suffix counts with all true
    pairs retained (true_pairs <= suffix_cand_pairs is the gate-checked
    completeness claim). At 100 TB the tier costs two candidate-bounded
    array lookups + O(|suffix|) scans per survivor — no extra shuffle —
    and pays for itself by shrinking the array_intersect verify set;
    the measured funnel at sf0.1 is recorded in the bench r6 sweep."""
    ordered = _ap_ordered_keyed(spark, sf_dir)
    # The expensive subtree (prefix self-join + per-pair collision agg)
    # comes from the `_ap_coll` session snapshot: collision positions
    # are identical under raw and df-padded grams (same total order),
    # so the positional tier's table serves this tier too. Everything
    # after it is candidate-bounded.
    coll = _ap_coll(spark, sf_dir)
    alpha = F.floor((F.col("sa") + F.col("sb") + 2) / 3)
    pos_ok = (
        F.col("n_coll")
        + F.least(F.col("sa") - F.col("ia"), F.col("sb") - F.col("jb"))
        >= alpha
    )
    n_funnel = coll.agg(
        F.count("*").alias("prefix_cand_pairs"),
        F.sum(F.when(pos_ok, 1).otherwise(0))
        .cast("long")
        .alias("positional_cand_pairs"),
    )
    ka = ordered.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    kb = ordered.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    sfx = (
        coll.filter(pos_ok)
        .join(ka, "doc_a")
        .join(kb, "doc_b")
        .select(
            "sa",
            "sb",
            "n_coll",
            "ga",
            "gb",
            alpha.alias("alpha"),
            (F.col("sa") - F.col("ia")).alias("len_a"),
            (F.col("sb") - F.col("jb")).alias("len_b"),
            F.expr("slice(ga, ia + 1, sa - ia)").alias("suf_a"),
            F.expr("slice(gb, jb + 1, sb - jb)").alias("suf_b"),
        )
        # len_a == 0 is reachable (docs with <=2 grams whose single gram
        # collides at the last position): element_at(_, 0) raises
        # INVALID_INDEX_OF_ZERO in both ANSI and legacy modes, so guard
        # the probe — those rows take the n_coll-only ub branch below
        # and never consume m/sal/sbl (NULL m makes the filters empty).
        .withColumn(
            "m",
            F.when(
                F.col("len_a") > 0,
                F.expr("element_at(suf_a, CAST((len_a + 1) DIV 2 AS INT))"),
            ),
        )
        .withColumn("sal", F.expr("size(filter(suf_a, x -> x < m))"))
        .withColumn("sbl", F.expr("size(filter(suf_b, x -> x < m))"))
        .withColumn(
            "m_in_b",
            F.when(F.expr("array_contains(suf_b, m)"), 1).otherwise(0),
        )
    )
    ub = F.when(
        (F.col("len_a") == 0) | (F.col("len_b") == 0), F.col("n_coll")
    ).otherwise(
        F.col("n_coll")
        + F.least(F.col("sal"), F.col("sbl"))
        + F.least(
            F.col("len_a") - F.col("sal") - 1,
            F.col("len_b") - F.col("sbl") - F.col("m_in_b"),
        )
        + F.col("m_in_b")
    )
    # The exact verify is FUSED into the suffix-survivor pass: true
    # pairs are counted among suffix survivors, so a suffix-filter bug
    # that drops a true pair undercounts vs the oracle's truth CTE
    # (built from the UNFILTERED inverted index) and hash-mismatches
    # the gate — completeness is checked, not assumed.
    inter = F.size(F.array_intersect("ga", "gb"))
    is_true = (
        inter.cast("double") / (F.col("sa") + F.col("sb") - inter) >= _AP_T
    )
    surv = ub >= F.col("alpha")
    n_sfx = sfx.agg(
        F.sum(F.when(surv, 1).otherwise(0))
        .cast("long")
        .alias("suffix_cand_pairs"),
        F.sum(F.when(surv & is_true, 1).otherwise(0))
        .cast("long")
        .alias("true_pairs"),
    )
    return snapshot_small(n_funnel.crossJoin(n_sfx), max_rows=1)


@query(
    "docs_dup_source_matrix",
    f"""
    WITH {_AP_SETS_SQL},
    {_AP_TRUTH_SQL},
    pairs AS (
      SELECT doc_a, doc_b FROM truth
      WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= {_AP_T}
    )
    SELECT least(da.source, db.source) AS source_lo,
           greatest(da.source, db.source) AS source_hi,
           COUNT(*) AS n_dup_pairs,
           CAST(SUM(CASE WHEN da.source = db.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def docs_dup_source_matrix(spark, sf_dir):
    """Cross-source duplication matrix — the PROVENANCE view of
    near-dup analysis: every exact Jaccard>=t pair (the AllPairs tier,
    so no sampling and no banding misses) attributed to its two
    sources, rolled up to a symmetric (source_lo, source_hi) matrix.
    This is the table that decides corpus-mixing policy: a hot
    off-diagonal cell means two \"independent\" sources are mirroring
    each other (double-counted mass → dedup before mixing), a hot
    diagonal means a source self-duplicates (template/boilerplate).

    Plan: `_ap_true_pairs` over one cached ordered-set table (the
    prefix-filtered exact join — candidate-bounded), then two
    hash-joins against the documents dim on doc_id and one
    O(sources^2)-group rollup. The matrix is bounded by source
    cardinality, never corpus size; true-pair attribution rides the
    same joins any pair-postprocessing does. Symmetric key via
    least/greatest keeps (a, b) and (b, a) in one cell."""
    pairs = _ap_true_pairs(
        _ap_ordered(spark, sf_dir),
        _ap_coll(spark, sf_dir).select("doc_a", "doc_b"),
    ).select("doc_a", "doc_b")
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.sum(F.when(F.col("sa") == F.col("sb"), 1).otherwise(0))
            .cast("long")
            .alias("n_within"),
        )
    )


@query(
    "docs_boilerplate_line_ratio",
    """
    WITH b AS (
      SELECT doc_id, block_no,
             array_to_string(words[block_no*3+1 : block_no*3+3], ' ')
               AS block_text
      FROM (
        SELECT doc_id, string_split(text, ' ') AS words,
               UNNEST(range(0, CAST(CEIL(len(string_split(text, ' ')) / 3.0)
                                    AS BIGINT))) AS block_no
        FROM documents)
    ),
    df AS (
      SELECT block_text, count(DISTINCT doc_id) AS ndocs
      FROM b GROUP BY block_text
    )
    SELECT b.doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN df.ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(SUM(CASE WHEN df.ndocs >= 3 THEN 1 ELSE 0 END) * 1000000
                AS BIGINT) // COUNT(*) AS boiler_ratio_scaled
    FROM b JOIN df USING (block_text)
    GROUP BY b.doc_id
    """,
)
def docs_boilerplate_line_ratio(spark, sf_dir):
    """Per-document BOILERPLATE ratio — the quality signal the line
    dedup machinery yields for free (CCNet / RefinedWeb drop documents
    that are mostly template): the fraction of a document's blocks
    (the fixed 3-word lines of `docs_line_dedup`) that recur in >= 3
    distinct documents corpus-wide, as an exact integer-scaled floor
    rational. Filtering on this ratio upstream is cheaper than
    deduplicating a template-dominated document downstream.

    Shape: the SAME two exchanges as `docs_line_dedup` — explode to
    blocks map-side, one shuffle on block_text for the document-
    frequency table, one shuffle back on doc_id for the per-doc fold.
    In production the block key is a hash (8-byte shuffle keys); df
    could also broadcast when the hot-block table is pruned to
    ndocs >= threshold first. Reference scope: extension surface
    (SURVEY.md §2C text/dedup row)."""
    bs = 3
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    blocks = d.select(
        "doc_id",
        words.alias("w"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(words) / F.lit(float(bs))).cast("int") - 1,
            )
        ).alias("block_no"),
    ).select(
        "doc_id",
        "block_no",
        F.array_join(
            F.slice(F.col("w"), F.col("block_no") * bs + 1, bs), " "
        ).alias("block_text"),
    )
    df = blocks.groupBy("block_text").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    boiler = F.sum(F.when(F.col("ndocs") >= 3, 1).otherwise(0))
    return (
        blocks.join(df, "block_text")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            boiler.cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_ratio_scaled",
            F.expr("n_boiler * 1000000 div n_blocks"),
        )
    )


@query(
    "docs_dup_cluster_histogram",
    """
    WITH h AS (
      SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY md5(text)
    ),
    g AS (
      SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM h GROUP BY sz
    ),
    tot AS (SELECT CAST(SUM(cluster_size * n_clusters) AS BIGINT)
               AS n_docs FROM g)
    SELECT g.cluster_size, g.n_clusters,
           CAST(g.cluster_size * g.n_clusters AS BIGINT) AS n_docs_in_bin,
           CAST(CASE WHEN g.cluster_size > 1
                THEN (g.cluster_size - 1) * g.n_clusters
                ELSE 0 END AS BIGINT) AS n_removable,
           CAST(g.cluster_size * g.n_clusters AS DOUBLE) / tot.n_docs
             AS doc_share
    FROM g CROSS JOIN tot
    """,
)
def docs_dup_cluster_histogram(spark, sf_dir):
    """DUPLICATE-CLUSTER SIZE DISTRIBUTION for exact text dedup: how
    many fingerprint clusters exist at each size, how many documents
    they hold, and how many a keep-one policy would remove — the
    diagnostic a dedup pipeline reports BEFORE deleting anything
    (cluster-size tails decide whether dedup is worth a pass and
    whether near-dup thresholds need tightening;
    `text_exact_dedup` is the removal, this is its audit).

    Exactness: md5 fingerprints agree across engines on identical
    strings; everything else is integer counts + one share division.

    Distributed shape: two combinable groupBys (fingerprint, then
    size — the second input is one row per CLUSTER, already
    dedup-compressed) and a 1-row total broadcast. The histogram is
    bounded by the max cluster size, not the corpus.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    d = t(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("fp")
    )
    h = d.groupBy("fp").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    g = h.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    tot = g.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("long")
        .alias("n_docs_in_bin"),
        F.when(
            F.col("cluster_size") > 1,
            (F.col("cluster_size") - 1) * F.col("n_clusters"),
        )
        .otherwise(0)
        .cast("long")
        .alias("n_removable"),
        (
            (F.col("cluster_size") * F.col("n_clusters")).cast("double")
            / F.col("n_docs")
        ).alias("doc_share"),
    )


# ---------------------------------------------------------------------------
# SimHash pigeonhole near-dup, production profile (Manku et al. 2007)
# ---------------------------------------------------------------------------
_SHP_BITS = 60          # 15 hex chars -> always-positive int64
_SHP_BLOCKS = 4         # pigeonhole: Hamming <= 3 => >= 1 equal block
_SHP_BLOCK_BITS = 15    # 60 / 4; 2^15 buckets per block
_SHP_K = 3              # max Hamming distance kept


def _shp_sql() -> str:
    word_hash = "CAST(('0x' || substring(md5(word), 1, 15)) AS BIGINT)"
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({word_hash} // {1 << b}) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SHP_BITS)
    )
    recombine = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(_SHP_BITS)
    )
    blocks = ", ".join(
        f"(simhash // {1 << (_SHP_BLOCK_BITS * i)}) % {1 << _SHP_BLOCK_BITS}"
        for i in range(_SHP_BLOCKS)
    )
    return f"""
    WITH words AS (
      SELECT doc_id,
             UNNEST(list_distinct(string_split(lower(text), ' '))) AS word
      FROM documents
    ),
    bitsums AS (
      SELECT doc_id, {bit_sums} FROM words GROUP BY doc_id
    ),
    sh AS (
      SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash
      FROM bitsums
    ),
    blocks AS (
      SELECT doc_id, simhash, bl.block_no,
             [{blocks}][bl.block_no + 1] AS block_val
      FROM sh CROSS JOIN
           (SELECT UNNEST(range({_SHP_BLOCKS})) AS block_no) bl
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a JOIN blocks b
        ON a.block_no = b.block_no AND a.block_val = b.block_val
       AND a.doc_id < b.doc_id
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand)
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT)
             AS hamming,
           nc.n_candidates
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    CROSS JOIN nc
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SHP_K}
    """


@query("text_simhash_hamming_prod", _shp_sql())
def text_simhash_hamming_prod(spark, sf_dir):
    """SimHash near-duplicate detection at PRODUCTION width (Manku,
    Jarvelin & Sarma 2007, "Detecting Near-Duplicates for Web
    Crawling"): a 60-bit fingerprint per document (each distinct word
    votes +-1 per bit of its md5-derived hash), then the PIGEONHOLE
    banding that makes Hamming search tractable at corpus scale — a
    pair within Hamming distance 3 must agree EXACTLY on at least one
    of 4 contiguous 15-bit blocks, so candidates come from 4 block-key
    equijoins (2^15 buckets each) and the exact Hamming distance
    (bit_count of xor) is verified on CANDIDATES ONLY. The demo-width
    `text_simhash` computes 24-bit signatures; this key is the
    MinHash demo/prod split applied to SimHash, with the candidate
    funnel reported in-key (`n_candidates` = distinct pairs sharing
    any block, before the Hamming verify).

    Exactness: the fingerprint is built from integer hash bits via
    INTEGER div/mod only — at 60 bits a double division would corrupt
    the low bits past the 53-bit mantissa, the trap the 24-bit demo
    key never hits; bit votes, block keys, xor, and bit_count are all
    exact int64 in both engines (15 hex chars keep the hash below
    2^60, so signed int64 never overflows).

    Distributed shape: fingerprints are one combinable groupBy(doc)
    over the word explode (a linear scan — 60 SUM aggregates ride one
    shuffle); the ONLY pairwise step is the 4-way block equijoin
    whose shuffle moves (block_no, 15-bit key, doc_id) rows, never
    documents or fingerprint tables squared; Hamming verify touches
    candidates only. Random 15-bit collisions keep candidate volume
    ~n^2/2^15 per block — at web scale Manku's trick is exactly this
    plan with more/wider tables sharded the same way. AQE skew-join
    splits boilerplate buckets (the MinHash-prod posture).

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    d = t(spark, sf_dir, "documents")
    # fan the single-split scan out BEFORE the word explode so the
    # per-word md5 + 60-bit-vote aggregation uses every core
    words_df = fan_out_scan(d.select("doc_id", "text")).select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), " "))
        ).alias("word"),
    )
    h = F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long")
    words_df = words_df.select("doc_id", h.alias("h"))
    # (shiftright(h,b) & 1)*2-1 == CASE WHEN (h div 2^b)%2=1 THEN 1
    # ELSE -1 for the non-negative 60-bit h — exact-integer identical,
    # but the generated aggregate-update code is ~3 ops per bit
    # instead of div/mod/branch (the 60-accumulator HashAggregate was
    # the heaviest stage; in-session A/B: 1.90 s -> 1.18 s noop)
    bit_sums = [
        F.sum(F.expr(f"(shiftright(h, {b}) & 1) * 2 - 1")).alias(f"s{b}")
        for b in range(_SHP_BITS)
    ]
    sums = words_df.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(_SHP_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        )
        simhash = term if simhash is None else simhash + term
    # The fingerprint table feeds FIVE consumers (both sides of the
    # block equijoin, both sides of the Hamming verify join, and the
    # candidate count); cached, the word-explode + 60-sum aggregate
    # subtree runs once instead of once per consumer (A/B min-of-3 at
    # sf0.1: noop 2.35 s cached vs 15.3 s uncached — AQE exchange
    # reuse does NOT cover all five consumers; guide §2.4/§5: cache
    # only the tiny reused relation, 2 longs per document).
    sh = register_cache(
        sums.select("doc_id", simhash.cast("long").alias("simhash"))
    )
    block_vals = F.array(
        *[
            F.expr(
                f"(simhash div {1 << (_b * _SHP_BLOCK_BITS)})"
                f" % {1 << _SHP_BLOCK_BITS}"
            ).cast("long")
            for _b in range(_SHP_BLOCKS)
        ]
    )
    blocks = sh.select(
        "doc_id",
        F.posexplode(block_vals).alias("block_no", "block_val"),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        "block_no",
        "block_val",
    )
    b_ = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("block_no").alias("block_no_b"),
        F.col("block_val").alias("block_val_b"),
    )
    # candidates feed both the funnel count and the Hamming verify —
    # cached so the block self-join runs once (pair volume ~n^2/2^15
    # per block: bounded, 2 longs per row)
    cand = register_cache(
        a.join(
            b_,
            (F.col("block_no") == F.col("block_no_b"))
            & (F.col("block_val") == F.col("block_val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")
    )
    ham = F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    ).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .crossJoin(F.broadcast(nc))
        .select(
            "doc_a",
            "doc_b",
            ham.alias("hamming"),
            "n_candidates",
        )
        .filter(F.col("hamming") <= _SHP_K)
    )


def _cdc_chunk_fingerprints(batches):
    """Arrow-batched CDC chunker (guide §4.2/§4.5): per document,
    boundary positions p in [2, len-7] cut where
    int(md5(text[p-1:p+7])[:7 hex], 16) % 64 == 0 — tested directly on
    the digest bytes (low 6 bits of the first 7 hex chars are
    digest[2]'s low 2 bits and digest[3]'s high nibble), bit-identical
    to the SQL/DuckDB form. Emits (source, md5(chunk) hexdigest,
    chunk length in CHARS) per chunk. Pure-ASCII texts take a bytes
    fast path (1 byte == 1 char, identical slices); anything else
    walks code points exactly like Spark's substring/length."""
    import hashlib

    import pandas as pd

    md5 = hashlib.md5
    for pdf in batches:
        out_src, out_f, out_len = [], [], []
        for src, text in zip(pdf["source"], pdf["text"]):
            text = text or ""
            n = len(text)
            is_ascii = text.isascii()
            buf = text.encode("utf-8")
            bounds = [1]
            if n >= 9:
                if is_ascii:
                    for p in range(2, n - 6):
                        dg = md5(buf[p - 1 : p + 7]).digest()
                        if dg[2] & 0x03 == 0 and dg[3] & 0xF0 == 0:
                            bounds.append(p)
                else:
                    for p in range(2, n - 6):
                        dg = md5(
                            text[p - 1 : p + 7].encode("utf-8")
                        ).digest()
                        if dg[2] & 0x03 == 0 and dg[3] & 0xF0 == 0:
                            bounds.append(p)
            bounds.append(n + 1)
            for i in range(len(bounds) - 1):
                chunk = text[bounds[i] - 1 : bounds[i + 1] - 1]
                out_src.append(src)
                out_f.append(md5(chunk.encode("utf-8")).hexdigest())
                out_len.append(len(chunk))
        yield pd.DataFrame(
            {
                "source": pd.Series(out_src, dtype="object"),
                "f": pd.Series(out_f, dtype="object"),
                "clen": pd.Series(out_len, dtype="int64"),
            }
        )


@query(
    "docs_cdc_chunk_dedup",
    """
    WITH cuts AS (
      SELECT doc_id, source, text, length(text) AS len,
             list_sort(list_concat(list_concat(
               [CAST(1 AS BIGINT)],
               CASE WHEN length(text) >= 9 THEN
                 list_filter(
                   list_transform(range(2, length(text) - 6),
                     p -> CASE WHEN CAST(('0x' || substring(
                                md5(substring(text, p, 8)), 1, 7))
                                AS BIGINT) % 64 = 0
                               THEN CAST(p AS BIGINT) END),
                   x -> x IS NOT NULL)
               ELSE CAST([] AS BIGINT[]) END),
               [CAST(length(text) + 1 AS BIGINT)])) AS bounds
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, source,
             UNNEST(list_transform(range(1, len(bounds)),
                    i -> substring(text, CAST(bounds[i] AS INT),
                                   CAST(bounds[i + 1] - bounds[i]
                                        AS INT)))) AS chunk
      FROM cuts
    ),
    fp AS (
      SELECT source, md5(chunk) AS f,
             CAST(length(chunk) AS BIGINT) AS clen
      FROM chunks
    ),
    per_fp AS (
      SELECT source, f, CAST(COUNT(*) AS BIGINT) AS reps,
             MIN(clen) AS clen
      FROM fp GROUP BY source, f
    ),
    docs_per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT p.source, d.n_docs,
           CAST(SUM(p.reps) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(p.reps * p.clen) AS BIGINT) AS total_chars,
           CAST(SUM(p.clen) AS BIGINT) AS distinct_chars,
           CAST(SUM(p.clen) AS DOUBLE) / SUM(p.reps * p.clen)
             AS dedup_ratio,
           CAST(SUM(p.reps * p.clen) AS DOUBLE) / SUM(p.reps)
             AS avg_chunk_len
    FROM per_fp p JOIN docs_per d ON d.source = p.source
    GROUP BY p.source, d.n_docs
    """,
)
def docs_cdc_chunk_dedup(spark, sf_dir):
    """CONTENT-DEFINED CHUNKING dedup audit (Rabin-style rolling
    boundaries — the Muthitacharoen et al. 2001 LBFS scheme, the
    ancestor of FastCDC): cut every document where the hash of the
    8-char window starting at a position lands in a 1/64 mask
    (expected chunk ~64 chars, boundaries defined by CONTENT so an
    insertion re-chunks only locally — the property fixed-size
    blocking lacks), fingerprint each chunk, and report per-source
    chunk-level dedup: distinct/total chunk chars (the storage ratio
    a dedup store achieves), chunk counts, and average chunk length.
    This is the storage-side twin of the document-level near-dup
    keys: boilerplate shared ACROSS documents dedups at chunk
    granularity even when whole docs differ.

    Exactness: boundaries are integer md5-prefix mask tests; chunk
    extraction is pure substring arithmetic on sorted integer cut
    lists (both engines 1-based, end-exclusive via length); counts
    and char totals are exact integers; the two reported ratios are
    single IEEE divisions.

    Distributed shape: cuts/chunks/fingerprints are ONE map-side
    Arrow-batched pass per document partition (mapInPandas, guide
    §4.2 — no shuffle until fingerprints exist; only (source, text)
    cross the Python boundary and only (source, fingerprint, len)
    come back); the dedup reduction is one combinable
    groupBy(source, fingerprint) then a bounded groupBy(source). The
    shuffle carries (source, 32-char fingerprint, len) rows, never
    text. At 100 TB this is exactly a
    dedup store's ingest path; the 1/64 mask and window width scale
    to the deployment's chunk-size target (FastCDC's normalized
    masks drop in unchanged).

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    d = t(spark, sf_dir, "documents")
    # Boundary detection needs one md5 PER CHARACTER POSITION. As a
    # SQL higher-order-function pipeline (the r12-build form) every
    # position paid an interpreted lambda -> md5 -> conv -> substring
    # chain (~1k evals/doc; 45 s spark-side at the round-open sf0.01
    # gate). Rewritten per guide §4.2 as one Arrow-batched mapInPandas
    # pass — hashlib.md5 over each window, bit-identical mask test on
    # the raw digest bytes (int(hex[:7],16) % 64 == 0  <=>
    # digest[2] & 0x03 == 0 and digest[3] & 0xF0 == 0), chunk
    # fingerprints via the same md5 hexdigest the JVM md5() emits.
    # Only (source, text) cross the Python boundary (guide §4.1), the
    # output rows are (source, 32-hex fingerprint, chunk chars) —
    # chunk text never leaves the task, and the downstream shuffle is
    # unchanged (fingerprints only).
    fp = fan_out_scan(d.select("source", "text")).mapInPandas(
        _cdc_chunk_fingerprints, "source string, f string, clen long"
    )
    per_fp = fp.groupBy("source", "f").agg(
        F.count(F.lit(1)).cast("long").alias("reps"),
        F.min("clen").alias("clen"),
    )
    docs_per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        per_fp.join(F.broadcast(docs_per), "source")
        .groupBy("source", "n_docs")
        .agg(
            F.sum("reps").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chunks"),
            F.sum(F.col("reps") * F.col("clen"))
            .cast("long")
            .alias("total_chars"),
            F.sum("clen").cast("long").alias("distinct_chars"),
            (
                F.sum("clen").cast("double")
                / F.sum(F.col("reps") * F.col("clen"))
            ).alias("dedup_ratio"),
            (
                F.sum(F.col("reps") * F.col("clen")).cast("double")
                / F.sum("reps")
            ).alias("avg_chunk_len"),
        )
    )


_CONT_THRESHOLD = 0.5


@query(
    "docs_minhash_containment",
    f"""
    WITH {_GRAMS_CTES},
    {_mh_candidate_ctes(_MH_B, _MH_R)}
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.grams, sb.grams)) AS BIGINT)
             AS inter,
           CAST(len(sa.grams) AS BIGINT) AS n_grams_a,
           CAST(len(sb.grams) AS BIGINT) AS n_grams_b,
           CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
             / len(sa.grams) AS containment_a,
           CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
             / len(sb.grams) AS containment_b,
           CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
           / (len(sa.grams) + len(sb.grams)
              - len(list_intersect(sa.grams, sb.grams))) AS jaccard
    FROM candidates c
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    WHERE GREATEST(
            CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
              / len(sa.grams),
            CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
              / len(sb.grams)) >= {_CONT_THRESHOLD}
    """,
)
def docs_minhash_containment(spark, sf_dir):
    """CONTAINMENT (asymmetric Jaccard, Broder 1997's "containment
    of A in B") over the MinHash-LSH candidate pairs:
    C(A,B) = |A n B| / |A| — the measure that catches NEAR-SUPERSET
    relationships (a document quoting most of another, boilerplate
    wrappers around a shared core) which symmetric Jaccard dilutes
    when sizes differ. Pairs are kept when EITHER direction's
    containment reaches 0.5; both directions plus plain Jaccard are
    reported so the asymmetry (quote direction) is visible in-key.
    Candidates come from the SAME demo-profile banding as
    `text_near_dedup_minhash` — containment-specific recall beyond
    what Jaccard-tuned LSH surfaces needs the LSH-ensemble
    construction (documented, out of the exact channel).

    Exactness: gram sets and intersections are exact string sets
    (both engines sort/dedupe identically); counts are exact
    integers; each containment/Jaccard is one IEEE division.

    Distributed shape: identical to the MinHash keys — map-side
    signatures, a band-key equijoin whose shuffle moves (doc_id,
    16-char key) rows, then the set verify on candidates only. At
    100 TB the banding is the scale path; the verify join touches
    candidate documents, never the corpus squared.

    Reference scope check: codeG12/target-s3-parquet has no query
    surface (605-LoC Singer->Parquet sink); this key belongs to the
    LLM-data-pipeline extension surface (SURVEY.md §2C)."""
    docs = _minhash_docs(spark, sf_dir)
    candidates = minhash_candidates(docs, _MH_B, _MH_R)
    # no array_sort: only SIZES of the intersection reach the output,
    # and array_intersect is order-insensitive over the already-
    # distinct gram sets — sorting every doc's gram array (twice, one
    # per join side) bought nothing (guide §1.2 per-task work; the
    # oracle's list_sort is likewise cosmetic)
    sets = docs.select("doc_id", "grams")
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    inter = F.size(
        F.array_intersect(F.col("sa.grams"), F.col("sb.grams"))
    )
    na = F.size(F.col("sa.grams"))
    nb = F.size(F.col("sb.grams"))
    ca = inter.cast("double") / na
    cb = inter.cast("double") / nb
    jac = inter.cast("double") / (na + nb - inter)
    return (
        candidates.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            na.cast("long").alias("n_grams_a"),
            nb.cast("long").alias("n_grams_b"),
            ca.alias("containment_a"),
            cb.alias("containment_b"),
            jac.alias("jaccard"),
        )
        .filter(
            F.greatest(F.col("containment_a"), F.col("containment_b"))
            >= _CONT_THRESHOLD
        )
    )

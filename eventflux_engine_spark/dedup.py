"""Deduplication operators for training-data pipelines.

Beyond the reference's operator set (its engine has no dedup primitives):
exact dedup, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup
— each a first-class, oracle-gated query over the ``documents`` /
``embeddings`` tables.

Engine-parity strategy: every hash in the pipeline derives from **md5**, the
one hash function with identical output in Spark and DuckDB, so the entire
MinHash/SimHash pipeline (signatures, band buckets, candidate pairs) is
bit-reproducible in the SQL oracle. Each Spark builder has a ``*_SQL``
generator emitting the equivalent DuckDB CTE from the SAME Python constants.

Scale design (100 TB corpus):
- shingling/minhash is a narrow map (no shuffle) after an explode;
  signatures aggregate with one shuffle on doc_id
- LSH banding turns the quadratic all-pairs problem into equi-joins on
  (band_idx, band_key) — the only join is on the band bucket, which is
  uniformly distributed by construction (hash values)
- SimHash candidate generation joins on 8-bit chunks (pigeonhole: a 32-bit
  hash split into 4 chunks — any hamming≤3 pair shares ≥1 exact chunk) —
  again an equi-join, no cross join
- exact Jaccard verification runs only on LSH candidates
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HASHES = 16
BANDS = 4
ROWS_PER_BAND = 4
SHINGLE_K = 3
# SimHash runs over 3-gram shingles, not words: the test corpus draws from a
# ~44-word vocabulary, so word-level simhashes degenerate (every doc within
# hamming 3 of every other); shingles are distinctive. 32 bits / 4 chunks of
# 8: hamming≤3 pairs share ≥1 identical chunk (pigeonhole).
SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4

__all__ = [
    "normalize_ascii",
    "hash32",
    "augmented_documents",
    "exact_dedup",
    "doc_shingles",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_on_candidates",
    "simhash",
    "simhash_near_pairs",
    "dup_clusters",
    "dup_clusters_sql",
    "AUG_DOCUMENTS_CTE",
    "DEFAULT_MAX_BUCKET",
    "boilerplate_documents",
    "BOILERPLATE_CTE",
]

#: Default degenerate-bucket cap for LSH banding (see
#: :func:`lsh_candidate_pairs`). A bucket of k docs emits k^2/2 candidate
#: pairs, so ONE all-identical-boilerplate bucket goes quadratic at corpus
#: scale; 64 is far above any organic bucket (max observed 7 at sf0.1 —
#: real near-dup groups are shallow) while capping the blowup a
#: boilerplate-heavy corpus hits first. Members of excluded buckets are
#: near-certain exact/boilerplate dups and remain covered by
#: :func:`exact_dedup` (asserted by the dedup_lsh_skew_cap gate).
DEFAULT_MAX_BUCKET = 64


# -- shared primitives (Spark side + SQL twin) ------------------------------

def normalize_ascii(c: Column) -> Column:
    """ASCII-safe normalization (identical regex semantics in Java regex and
    DuckDB's RE2): lowercase, non-alnum→space, collapse, trim."""
    out = F.lower(c)
    out = F.regexp_replace(out, "[^a-z0-9 ]", " ")
    out = F.regexp_replace(out, " +", " ")
    return F.trim(out)


NORMALIZE_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


def hash32(c: Column, seed: int) -> Column:
    """Deterministic 32-bit hash shared with the oracle: first 8 hex chars of
    md5(seed:value), parsed as an integer."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"s{seed}:"), c)), 1, 8), 16, 10
    ).cast("bigint")


def hash32_sql(c_sql: str, seed: int) -> str:
    return f"cast('0x' || substr(md5('s{seed}:' || {c_sql}), 1, 8) AS BIGINT)"


# -- deterministic near/exact-dup augmented corpus ---------------------------
# documents.parquet has no duplicates, so dedup queries operate on a derived
# corpus: originals + near-dup copies (first 14 chars dropped, doc_id+100000,
# even ids) + exact copies (doc_id+200000, ids % 5 == 0).

AUG_DOCUMENTS_CTE = """
documents_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, substr(text, 15) AS text
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
"""


#: One fixed boilerplate sentence, repeated verbatim across the injected
#: docs — the "identical site footer on every page" shape a real crawl
#: corpus hits first.
BOILERPLATE_TEXT = (
    "the same footer text appears on every page of this site join our "
    "stream for fast query value and big data table scan"
)
N_BOILERPLATE = 500

BOILERPLATE_CTE = f"""
documents_skew AS (
  SELECT doc_id, text FROM documents_aug
  UNION ALL
  SELECT 300000 + i AS doc_id, '{BOILERPLATE_TEXT}' AS text
  FROM range({N_BOILERPLATE}) t(i)
)
"""


def boilerplate_documents(docs: DataFrame) -> DataFrame:
    """Skewed-corpus fixture: the augmented corpus plus ``N_BOILERPLATE``
    byte-identical boilerplate docs (ids 300000+). All of them collapse
    into ONE bucket per LSH band — the degenerate-bucket hazard
    ``max_bucket`` defends against (k²/2 candidate pairs from one bucket)."""
    spark = docs.sparkSession
    boiler = spark.range(N_BOILERPLATE).select(
        (F.col("id") + 300000).alias("doc_id"),
        F.lit(BOILERPLATE_TEXT).alias("text"),
    )
    return augmented_documents(docs).unionByName(boiler)


def augmented_documents(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    near = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.col("text").substr(F.lit(15), F.length("text")).alias("text"),
        )
    )
    exact = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return base.unionByName(near).unionByName(exact)


# -- exact dedup -------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup on the normalized-text fingerprint: one row
    per duplicate group (keep = min doc_id). Map-side partial agg → single
    shuffle on the fingerprint."""
    return (
        docs.select("doc_id", F.md5(normalize_ascii(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# -- shingling + MinHash + LSH ------------------------------------------------

def doc_shingles(docs: DataFrame, k: int = SHINGLE_K, distinct: bool = True) -> DataFrame:
    """Distinct k-word shingles per document (narrow explode, no shuffle).

    ``distinct=False`` skips the set-dedup shuffle — correct for consumers
    that are idempotent over duplicate shingles (MinHash: min() over a
    multiset equals min() over its set), where it removes the only
    wide exchange of raw shingle strings from the pipeline."""
    words = F.split(normalize_ascii(F.col("text")), " ")
    # guard: Spark sequence(1, 0) yields a DESCENDING [1, 0] — docs with
    # fewer than k words must produce no shingles (like DuckDB's empty
    # generate_series), so gate on size >= k.
    idx = F.explode(
        F.when(
            F.size(F.col("w")) >= k,
            F.sequence(F.lit(1), F.size(F.col("w")) - (k - 1)),
        ).otherwise(F.array().cast("array<int>"))
    )
    d = docs.select("doc_id", words.alias("w")).select(
        "doc_id", "w", idx.alias("i")
    )
    shingle = F.concat_ws(
        " ", *[F.element_at(F.col("w"), F.col("i") + j) for j in range(k)]
    )
    out = d.select("doc_id", shingle.alias("shingle"))
    return out.distinct() if distinct else out


def shingles_sql(k: int = SHINGLE_K, source: str = "documents_aug") -> str:
    norm = NORMALIZE_SQL.format(c="text")
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return f"""
shingled AS (
  SELECT doc_id, string_split({norm}, ' ') AS w FROM {source}
),
shingles AS (
  SELECT DISTINCT doc_id, {parts} AS shingle
  FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS i
        FROM shingled)
)
"""


# The classic universal-hashing MinHash construction: ONE md5 digest per
# shingle yields a 32-bit base hash h, and the N_HASHES functions are linear
# permutations h_i = (a_i*h + b_i) mod p over the prime field p = largest
# prime < 2^32.  Both engines evaluate identical BIGINT arithmetic on the
# identical md5-derived base, so the oracle stays bit-exact while the
# dominant digest cost drops to one md5 per shingle (was N_HASHES/4).
# a_i < 2^31 and h < 2^32 keep a_i*h + b_i < 2^63 (no signed-64 overflow in
# either engine).
_MH_P = 4294967291  # largest prime < 2^32
_MH_A = [(1103515245 * (i + 1) + 12345) % 2147483647 or 1 for i in range(64)]
_MH_B = [((i + 1) * 2654435761) % _MH_P for i in range(64)]


def _mh_base_sql(col_sql: str) -> str:
    return f"cast('0x' || substr(md5({col_sql}), 1, 8) AS BIGINT)"


def _mh_exprs_sql(col_sql: str, n_hashes: int) -> list[str]:
    base = _mh_base_sql(col_sql)
    return [f"({_MH_A[i]} * {base} + {_MH_B[i]}) % {_MH_P}" for i in range(n_hashes)]


def minhash_signatures(sh: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """MinHash signature: per doc, min of each seeded hash over its shingles.
    One hash agg on doc_id — the explode never leaves the partition."""
    # materialize the md5-derived base hash ONCE per shingle row (aggregate
    # expressions do not share subexpressions); the n_hashes permutations
    # are then integer multiply-add-mod inside the min() inputs — no digest
    # ever recomputed
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("__hb"),
    )
    aggs = [
        F.min(
            (F.lit(_MH_A[i]) * F.col("__hb") + F.lit(_MH_B[i])) % F.lit(_MH_P)
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_sql(n_hashes: int = N_HASHES) -> str:
    mins = ",\n         ".join(
        f"min({h}) AS mh{i}" for i, h in enumerate(_mh_exprs_sql("shingle", n_hashes))
    )
    return f"""
signatures AS (
  SELECT doc_id,
         {mins}
  FROM shingles GROUP BY doc_id
)
"""


def band_bucket_table(
    sig: DataFrame, bands: int = BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band, bkey) bucket rows from a signature frame. Band rows
    come from ONE explode over an array of (band, key) structs — NOT a
    union of per-band selects: Catalyst prunes a union branch's agg to
    just that band's columns and replicates the whole upstream
    shingle+hash+agg pipeline once PER BAND (observed 4x + 2x join sides
    = 8x the explode/md5 work in the executed plan)."""
    entries = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        key = F.md5(F.concat_ws("_", *[c.cast("string") for c in cols]))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("bkey")))
    return sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("__bb")
    ).select(
        "doc_id",
        F.col("__bb.band").alias("band"),
        F.col("__bb.bkey").alias("bkey"),
    )


def lsh_probe_pairs(
    index_sig: DataFrame,
    probe_sig: DataFrame,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Asymmetric LSH probe — the incremental-dedup SERVING shape: an
    incoming batch (probe side) is matched against an existing corpus
    index (index side) by equi-joining their band buckets, so no
    corpus×corpus (or probe×probe) candidate is ever generated. At
    100 TB the corpus bucket table is the persisted index (docs × bands
    narrow rows, bucketable by bkey); a daily increment joins against it
    and only the increment's buckets are computed fresh. Returns
    (doc_a = index doc, doc_b = probe doc) candidate pairs."""
    ib = band_bucket_table(index_sig, bands, rows_per_band)
    pb = band_bucket_table(probe_sig, bands, rows_per_band)
    return (
        ib.alias("i")
        .join(pb.alias("p"), ["band", "bkey"])
        .select(
            F.col("i.doc_id").alias("doc_a"), F.col("p.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL rows of any band become a candidate
    pair. Band key = md5 over the band's signature slice; candidates come
    from an equi-self-join on (band, key) — never a cross join.

    ``max_bucket`` bounds the degenerate-band hazard at scale: a bucket of k
    docs yields k²/2 pairs, so one all-identical-boilerplate bucket can go
    quadratic. Buckets larger than the cap are EXCLUDED from pair
    generation (their members are near-certain exact/boilerplate dups —
    handled by exact dedup, which is cheaper); the cap is a window count
    over the bucket key, one extra narrow shuffle, deterministic. The
    default (:data:`DEFAULT_MAX_BUCKET`) is a no-op on organic corpora
    (max observed bucket 7 at sf0.1) and is mirrored in
    :func:`lsh_pairs_sql`, so the oracle stays exact; pass ``None`` for
    uncapped reference semantics."""
    buckets = band_bucket_table(sig, bands, rows_per_band)
    # the bucket table is TINY (docs × bands narrow rows) but feeds up to
    # three plan arms (both self-join sides + the cap's key set), and
    # Catalyst replicates the whole shingle→md5→signature pipeline into
    # every arm — materialize it once (the classic fan-out point a real
    # pipeline would persist); measured: halves the md5 work even for the
    # plain 2-arm self-join
    buckets = buckets.localCheckpoint(eager=False)
    if max_bucket is not None:
        # oversized buckets are by definition FEW — find them with a
        # map-side-combined count agg and exclude via broadcast anti-join
        # (a bucket-size window would sort every bucket row per join side;
        # this touches each row once and ships only the bad keys)
        big = (
            buckets.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > max_bucket)
            .select("band", "bkey")
        )
        buckets = buckets.join(
            F.broadcast(big), ["band", "bkey"], "left_anti"
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_pairs_sql(
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> str:
    """DuckDB twin of :func:`lsh_candidate_pairs`, including the same
    ``max_bucket`` degenerate-bucket cap (bucket-size window count)."""
    selects = []
    for b in range(bands):
        cols = " || '_' || ".join(
            f"cast(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        selects.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bkey FROM signatures")
    union = "\n  UNION ALL\n  ".join(selects)
    cap = (
        ""
        if max_bucket is None
        else f"""
buckets AS (
  SELECT doc_id, band, bkey FROM (
    SELECT doc_id, band, bkey,
           count(*) OVER (PARTITION BY band, bkey) AS __bsz
    FROM buckets_raw
  ) WHERE __bsz <= {max_bucket}
),"""
    )
    raw_name = "buckets" if max_bucket is None else "buckets_raw"
    return f"""
{raw_name} AS (
  {union}
),{cap}
cand_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
"""


def jaccard_on_candidates(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard, computed only for LSH candidates.

    Shape (r6): aggregate each doc's distinct shingles into ONE set row
    (``collect_list`` — one shuffle, the posting-list materialization every
    MinHash pipeline already pays for its size agg), then attach the two
    sets to each candidate pair and compute |A∩B| in place with
    ``array_intersect`` (codegen'd, O(|A|+|B|) per pair). The r5 shape
    instead joined the corpus-sized (doc, shingle) table twice — once per
    pair side — and re-aggregated: two wide string-keyed shuffles that
    dwarfed the per-pair work at every scale tried. Per-pair cost is
    bounded by document length, and candidate pairs are the small relation
    by construction.

    Contract note (r6): pairs whose shingle sets are disjoint now appear
    with ``jaccard = 0.0`` instead of being silently dropped by the inner
    intersection join; every gated consumer filters ``jaccard >= 0.5``, so
    gated outputs are identical.
    """
    sets = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shset"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"))
    n_inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_inter / (F.size("set_a") + F.size("set_b") - n_inter), 4
            ).alias("jaccard"),
        )
    )


JACCARD_SQL = """
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
  FROM cand_pairs p
  JOIN shingles sa ON sa.doc_id = p.doc_a
  JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b
),
jac AS (
  SELECT i.doc_a, i.doc_b,
         round(n_inter / (na.n_sh + nb.n_sh - n_inter), 4) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
"""


# -- SimHash ------------------------------------------------------------------

def simhash(sh: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over shingle tokens: bit b is the sign of Σ over
    shingles of (±1 by bit b of the shingle hash). One agg per doc.

    Input: (doc_id, shingle) from :func:`doc_shingles`."""
    # materialize the md5-derived hash ONCE per shingle row: aggregate
    # expressions do not share subexpressions, so referencing hash32(...)
    # inside all `bits` sums would evaluate the digest `bits`× per row
    d = sh.select("doc_id", hash32(F.col("shingle"), 99).alias("__h32"))
    h = F.col("__h32")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bs{b}")
        for b in range(bits)
    ]
    agg = d.groupBy("doc_id").agg(*bit_sums)
    sh = None
    for b in range(bits):
        term = F.when(F.col(f"bs{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sh = term if sh is None else (sh + term)
    return agg.select("doc_id", sh.cast("bigint").alias("simhash"))


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    """SQL twin of :func:`simhash`; requires the ``shingles`` CTE
    (:func:`shingles_sql`) upstream."""
    h = hash32_sql("shingle", 99)
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bs{b}"
        for b in range(bits)
    )
    recompose = " + ".join(
        f"(CASE WHEN bs{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
bitsums AS (
  SELECT doc_id,
         {bit_sums}
  FROM shingles GROUP BY doc_id
),
simhashes AS (
  SELECT doc_id, cast({recompose} AS BIGINT) AS simhash FROM bitsums
)
"""


def simhash_near_pairs(
    sh: DataFrame,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split the hash into ``chunks`` equal bit-chunks; any
    pair within hamming ≤ chunks-1 agrees on ≥1 full chunk → candidates from
    an equi-join on (chunk_idx, chunk_value), verified by bit_count(xor).
    """
    cw = bits // chunks
    mask = (1 << cw) - 1
    # one explode over (chunk, cval) structs instead of a union of per-chunk
    # selects — a union duplicates the upstream simhash agg subtree once per
    # chunk in the executed plan (no general subplan reuse in Spark)
    entries = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright(F.col("simhash"), c * cw)
            .bitwiseAND(F.lit(mask))
            .alias("cval"),
        )
        for c in range(chunks)
    ]
    buckets = sh.select(
        "doc_id", "simhash", F.explode(F.array(*entries)).alias("__cc")
    ).select(
        "doc_id",
        "simhash",
        F.col("__cc.chunk").alias("chunk"),
        F.col("__cc.cval").alias("cval"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_sql(
    max_hamming: int = 3, bits: int = SIMHASH_BITS, chunks: int = SIMHASH_CHUNKS
) -> str:
    cw = bits // chunks
    mask = (1 << cw) - 1
    selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, simhash, {c} AS chunk, (simhash >> {c * cw}) & {mask} AS cval"
        " FROM simhashes"
        for c in range(chunks)
    )
    return f"""
sim_buckets AS (
  {selects}
),
sim_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         cast(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM sim_buckets a JOIN sim_buckets b
    ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
)
"""


# -- duplicate-cluster resolution (connected components) ----------------------

def dup_clusters(pairs: DataFrame, max_iters: int = 10) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected components
    by iterative min-label propagation (the Pregel/hash-min algorithm every
    distributed dedup pipeline ends with — pairs alone over-remove unless
    grouped transitively).

    Each round is one distributed join + hash-min agg: every vertex adopts
    the smallest label among itself and its neighbors; convergence in
    O(component diameter) rounds (near-dup clusters are shallow — a handful
    of rounds even at corpus scale). The loop stops early the first round no
    label changes (one count() action per round — the standard driver-side
    fixpoint check; everything else stays on executors).

    Input: (doc_a, doc_b) candidate pairs. Output: one row per distinct doc
    in any pair — (doc_id, cluster_id) with cluster_id = min doc_id reachable
    through the pair graph.
    """
    # materialize the edge list ONCE: every round's join re-evaluates its
    # input, and `edges` embeds the (expensive) candidate-pair pipeline
    # twice — without this checkpoint the pair generation re-runs 2x per
    # round (measured: the loop itself costs ~0.3 s/round, the uncached
    # pair recompute ~5 s/round at sf0.1)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # round 1 fused into label init: with identity labels the neighbor join
    # is trivial (label[src] == src), so the first propagation round is one
    # agg straight off the edge list — no identity-label materialization, no
    # first join. The identity sum (needed as the fixpoint baseline) is
    # sum(doc_id) of the SAME frame, so one action yields the checkpoint,
    # the round-1 sum and the baseline together.
    labels = (
        edges.select(F.col("dst").alias("doc_id"), F.col("src").alias("label"))
        .unionByName(
            edges.select(F.col("src").alias("doc_id"), F.col("src").alias("label"))
        )
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=False)  # materialized by the sums action below
    )
    # fixpoint probe: labels only ever DECREASE, so sum(label) is strictly
    # decreasing until convergence — one scalar agg per round, no
    # join-and-compare pass
    first = labels.agg(F.sum("label"), F.sum("doc_id")).collect()[0]
    prev_sum, ident_sum = first[0], first[1]
    converged = prev_sum == ident_sum
    for _ in range(max_iters - 1):
        if converged:
            break
        # neighbor labels flow along edges; hash-min with the own label
        msgs = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        # lazily checkpoint the round (truncates lineage so iteration depth
        # never grows the plan); the fixpoint-probe agg is the action that
        # materializes it — ONE job per round, not checkpoint + probe
        new_labels = new_labels.localCheckpoint(eager=False)
        cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
        prev_sum = cur_sum
    if not converged:
        # hash-min needs O(component diameter) rounds; exhausting max_iters
        # with the sum still decreasing means some component is only
        # partially propagated — labels would silently diverge from the
        # exact transitive closure
        import warnings

        warnings.warn(
            f"dup_clusters did not converge in {max_iters} rounds "
            "(a component's diameter exceeds max_iters); returned labels "
            "are partially propagated - raise max_iters",
            RuntimeWarning, stacklevel=2,
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dup_clusters_sql(pairs_cte: str = "cand_pairs", rounds: int = 32) -> str:
    """DuckDB twin: min-reachable-id via UNROLLED hash-min label-propagation
    rounds — the same linear-per-round algorithm the Spark side runs, NOT a
    reachability recursive CTE. The recursive form materializes the full
    (node, reachable-label) relation, which is Σ|component|² rows and joins
    |component|³ per step — a quasi-clique of a few hundred near-identical
    short docs (tiny vocab) spilled >70 GB at sf3.0. Each round here is one
    |edges| join + a per-node min, every intermediate is AS MATERIALIZED
    (DuckDB 1.0 inlines a CTE once per reference — unrolled rounds would
    otherwise replicate the whole upstream LSH pipeline 2^rounds times).
    ``rounds`` bounds the component diameter the oracle can converge;
    propagation reaches fixpoint in diameter rounds (near-dup components
    are cliques/stars/short chains), and the value-hash against the
    fixpoint-iterated Spark side verifies convergence — an under-provisioned
    unroll cannot silently match."""
    parts = [
        f"""
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM {pairs_cte}
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM {pairs_cte}
),
lab0 AS MATERIALIZED (
  SELECT src AS doc_id, src AS label FROM edges GROUP BY src
)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""
lab{k} AS MATERIALIZED (
  SELECT doc_id, min(label) AS label FROM (
    SELECT doc_id, label FROM lab{k - 1}
    UNION ALL
    SELECT e.dst AS doc_id, l.label
    FROM lab{k - 1} l JOIN edges e ON e.src = l.doc_id
  ) GROUP BY doc_id
)"""
        )
    parts.append(
        f"""
reach AS (
  SELECT doc_id, label AS cluster_id FROM lab{rounds}
)"""
    )
    return ",".join(parts)


# -- substring-level exact dedup (duplicated k-token spans) ------------------
# The substring-granularity counterpart of exact_dedup: instead of whole-doc
# fingerprints, every k-token window is fingerprinted, and any window that
# occurs >= 2 times ANYWHERE in the corpus (across documents or repeated
# within one) is a duplicated span — the primitive behind suffix-array
# training-data dedup ("remove any 50-token span that repeats"; Lee et al.
# 2022, arXiv:2107.06499, approximated here by fixed-width shingle joins,
# which is the shape that distributes). Per document we report how many
# window positions are duplicated and how many tokens at least one
# duplicated window covers — the bytes a substring-level dedup pass would
# drop.

SPAN_K = 8  # window width in tokens for the gated span stats


def duplicate_span_stats(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Per-document duplicated-span statistics over k-token windows.

    Scale shape: window positions are a narrow explode (no shuffle); the
    duplicate test is ONE shuffle of the position table on the md5 window
    fingerprint, with the occurrence count attached in place by a
    partition-count window (no groupBy + self-join back, which would scan
    and shuffle the corpus-sized position table twice); the surviving
    duplicated positions — typically a small fraction — are
    localCheckpointed once at their two-consumer fan-out, and coverage
    re-explodes only them (k x |dup positions|, not k x corpus). A
    pathological single span repeated corpus-wide lands on one reducer
    like any hot key; the salted-agg/LSH-cap toolkit applies if a corpus
    is boilerplate-dominated.
    """
    from pyspark.sql import Window

    words = F.split(normalize_ascii(F.col("text")), " ")
    base = docs.select("doc_id", words.alias("w")).select(
        "doc_id", "w", F.size("w").alias("n_tokens")
    )
    idx = F.explode(
        F.when(
            F.col("n_tokens") >= k,
            F.sequence(F.lit(1), F.col("n_tokens") - (k - 1)),
        ).otherwise(F.array().cast("array<int>"))
    )
    shingle = F.concat_ws(
        " ", *[F.element_at(F.col("w"), F.col("i") + j) for j in range(k)]
    )
    pos = base.select("doc_id", "n_tokens", "w", idx.alias("i")).select(
        "doc_id", "i", F.md5(shingle).alias("fp")
    )
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("fp"))
    duppos = (
        pos.withColumn("n_occ", n_occ)
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "i")
        .localCheckpoint(eager=False)
    )
    covered = (
        duppos.select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (k - 1))).alias("t"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    per_doc = duppos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dup_windows")
    )
    totals = base.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") >= k, F.col("n_tokens") - (k - 1))
        .otherwise(F.lit(0))
        .alias("n_windows"),
    )
    return (
        totals.join(per_doc, "doc_id", "left")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("n_windows").cast("int").alias("n_windows"),
            F.coalesce(F.col("dup_windows"), F.lit(0))
            .cast("bigint")
            .alias("dup_windows"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
        )
    )


def span_stats_sql(k: int = SPAN_K, source: str = "documents_aug") -> str:
    """DuckDB twin of :func:`duplicate_span_stats` (CTE chain ending in
    ``span_stats``)."""
    norm = NORMALIZE_SQL.format(c="text")
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    return f"""
shingled AS (
  SELECT doc_id, string_split({norm}, ' ') AS w FROM {source}
),
spanbase AS (
  SELECT doc_id, w, len(w) AS n_tokens FROM shingled
),
spanpos AS (
  SELECT doc_id, i, md5({parts}) AS fp
  FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS i
        FROM spanbase)
),
spandup AS (
  SELECT fp FROM spanpos GROUP BY fp HAVING count(*) >= 2
),
spanduppos AS (
  SELECT p.doc_id, p.i FROM spanpos p JOIN spandup USING (fp)
),
spancov AS (
  SELECT doc_id, count(DISTINCT t) AS covered_tokens
  FROM (SELECT doc_id, unnest(generate_series(i, i + {k - 1})) AS t
        FROM spanduppos)
  GROUP BY doc_id
),
spandw AS (
  SELECT doc_id, count(*) AS dup_windows FROM spanduppos GROUP BY doc_id
),
span_stats AS (
  SELECT b.doc_id,
         cast(b.n_tokens AS INTEGER) AS n_tokens,
         cast(greatest(b.n_tokens - {k - 1}, 0) AS INTEGER) AS n_windows,
         cast(coalesce(dw.dup_windows, 0) AS BIGINT) AS dup_windows,
         cast(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens
  FROM spanbase b
  LEFT JOIN spandw dw USING (doc_id)
  LEFT JOIN spancov c USING (doc_id)
)
"""

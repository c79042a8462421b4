"""M4 LLM-data-pipeline queries: deduplication (exact / MinHash-LSH /
SimHash / n-gram Jaccard), embedding similarity search (brute-force and
LSH-bucketed ANN), text analysis (language ID, quality, tokens,
fingerprints), and multimodal binary plumbing — the BASELINE.json
extensions, each with a DuckDB oracle that replicates the *same*
deterministic algorithm (portable md5-derived hashes, integer
arithmetic), so even the approximate operators are exactly checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql, row_hash, row_hash_sql
from ..operators import chunking as ck
from ..operators import curation as cu
from ..operators import dedup as dd
from ..operators import sampling as sp
from ..operators import similarity as sim
from ..operators import text as tx
from ..operators.multimodal import fake_decode_stats
from ..operators.util import track_persist
from ..sources.lake import load_table
from .registry import query

# ---------------------------------------------------------------------------
# Shared DuckDB CTE fragments (the oracle-side twins of operators/dedup.py).
# ---------------------------------------------------------------------------

def _sql_words(src: str) -> str:
    """Each ``src`` (doc_id, text) document's normalized text and word
    list: CTEs norm (doc_id, t) and words (doc_id, w)."""
    return f"""
norm AS (SELECT doc_id, {tx.normalize_text_sql("text")} AS t FROM {src}),
words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm)"""


def _sql_shingles(src: str) -> str:
    """``_sql_words`` plus the word 3-gram shingles (sh) and their
    distinct hashes per document (hashed)."""
    return _sql_words(src) + f""",
sh AS (
  SELECT doc_id, s.shingle
  FROM words, LATERAL (
    SELECT unnest(list_transform(range(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle) s
),
hashed AS (SELECT DISTINCT doc_id, {md5_long_sql("shingle")} AS h FROM sh)
"""


_SQL_MINHASH = "mh AS (SELECT doc_id, " + ", ".join(
    f"MIN(({a} * h + {b}) % {dd.MINHASH_P}) AS m{i}"
    for i, (a, b) in enumerate(zip(dd.MINHASH_A, dd.MINHASH_B))
) + " FROM hashed GROUP BY doc_id)"

_SQL_BUCKETS = "buckets AS (" + " UNION ALL ".join(
    f"SELECT doc_id, CAST({i} AS VARCHAR) || '_' || CAST(m{2*i} AS VARCHAR) || '_' || CAST(m{2*i+1} AS VARCHAR) AS bucket FROM mh"
    for i in range(dd.N_BANDS)
) + ")"

_SQL_LSH_CAND = """
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""

_SQL_JACCARD = """
sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         CAST(ROUND(10000.0 * n_inter / (sa.n + sb.n - n_inter)) AS BIGINT) AS jaccard_bp
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
)
"""


def _sql_lsh_pairs(src: str) -> str:
    """minhash_lsh_pairs over ``src`` (doc_id, text): the CTEs up to
    ``lsh`` (doc_a, doc_b, jaccard_bp) — every LSH candidate pair with
    its exact Jaccard."""
    ctes = (_sql_shingles(src), _SQL_MINHASH, _SQL_BUCKETS, _SQL_LSH_CAND, _SQL_JACCARD)
    return ", ".join(ctes) + """,
    lsh AS (SELECT j.doc_a, j.doc_b, j.jaccard_bp FROM jac j
            JOIN cand c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Dedup: exact (fingerprint groups)
# ---------------------------------------------------------------------------

@query(
    "dedup_exact_groups",
    f"""
    WITH fp AS (
      SELECT doc_id, {tx.prefix_fingerprint_sql("text")} AS fingerprint FROM documents
    )
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
    FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized 60-char prefix fingerprint:
    keep-first semantics (min doc_id is the keeper). Full-text md5 is
    `doc_fingerprints`; the prefix variant produces non-trivial groups
    on this corpus."""
    d = _docs(spark, sf_dir).withColumn("fingerprint", tx.prefix_fingerprint(F.col("text")))
    return (
        d.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("members"),
        )
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Dedup: MinHash + LSH with exact-Jaccard verification of candidates
# ---------------------------------------------------------------------------

@query(
    "dedup_minhash_lsh",
    "WITH " + _sql_lsh_pairs("documents") + " SELECT * FROM lsh WHERE jaccard_bp >= 5000",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) -> LSH(4 bands x 2) candidates -> exact Jaccard >= 0.5.
    The LSH equi-join is the 100 TB path: candidates are linear in
    bucket occupancy, not corpus-quadratic."""
    d = _docs(spark, sf_dir)
    return dd.minhash_lsh_pairs(d).where(F.col("jaccard_bp") >= 5000)


# ---------------------------------------------------------------------------
# Dedup: exact n-gram Jaccard over shingle-blocked pairs
# ---------------------------------------------------------------------------

@query(
    "dedup_ngram_jaccard",
    "WITH " + _sql_shingles("documents") + "," + _SQL_JACCARD + """
    SELECT doc_a, doc_b, jaccard_bp FROM jac WHERE jaccard_bp >= 5000
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # the shingle table appears three times in this plan (both sides of
    # the co-shingle self-join + the set-size aggregate) and, unlike the
    # LSH variant's plan, gets no exchange reuse across them — persist
    # wins ~20% at sf0.1 AND sf1 (measured both ways at both scales)
    sh = track_persist(dd._shingled(d))
    return dd.jaccard_pairs(sh).where(F.col("jaccard_bp") >= 5000)


# ---------------------------------------------------------------------------
# Dedup: SimHash signatures
# ---------------------------------------------------------------------------

# Shared oracle twin of operators/dedup.py:simhash and of
# simhash_hamming_pairs' banded candidate generation — ONE width-
# parameterized definition for every simhash query below, so a
# tokenization/banding tweak cannot desynchronize them. `bits` must
# mirror the operator's contract (multiple of 4, <= 60: the hex prefix
# parses into a signed 64-bit int in both engines).
def _sql_simhash_pairs(bits: int) -> str:
    """The CTEs up to ``pairs`` (doc_a, doc_b, hamming)."""
    votes = ", ".join(f"SUM(((h >> {j}) & 1) * 2 - 1) AS v{j}" for j in range(bits))
    bit_sum = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {j})" for j in range(bits)
    )
    width = bits // dd.SIMHASH_BANDS
    band_list = ", ".join(str(b) for b in range(dd.SIMHASH_BANDS))
    return _sql_words("documents") + f""",
    toks AS (SELECT doc_id, unnest(w) AS tok FROM words),
    hashed AS (SELECT doc_id, {md5_long_sql("tok", bits // 4)} AS h FROM toks),
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sims AS (SELECT doc_id, {bit_sum} AS simhash FROM votes),
    bands AS (
      SELECT doc_id, simhash, j.band, (simhash >> ({width} * j.band)) & {(1 << width) - 1} AS bv
      FROM sims, LATERAL (SELECT unnest([{band_list}]) AS band) j
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sim_a, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
    )"""


def _sql_groups_cc(bits: int) -> str:
    """Connected components of the ``bits`` SimHash pair graph: a
    recursive-CTE transitive closure, component_id = MIN doc id."""
    return "WITH RECURSIVE " + _sql_simhash_pairs(bits) + """,
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT CAST(u AS BIGINT) AS doc_id,
           CAST(LEAST(u, MIN(v)) AS BIGINT) AS component_id
    FROM reach GROUP BY u
    """

# ---------------------------------------------------------------------------
# Dedup: SimHash near-dup pairs (banded hamming join)
# ---------------------------------------------------------------------------

@query(
    "dedup_simhash_hamming",
    "WITH " + _sql_simhash_pairs(32) + " SELECT doc_a, doc_b, hamming FROM pairs",
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup dedup, the scale path for boilerplate-heavy
    corpora: banded equi-join on signature bytes (pigeonhole-exact for
    hamming <= 3 at 4 bands), popcount(xor) verify. Complements
    MinHash-LSH (set similarity) with bit-level cosine-ish similarity at
    a fraction of the shuffle (4 rows/doc vs one row per shingle)."""
    return dd.simhash_hamming_pairs(_docs(spark, sf_dir))


@query(
    "dedup_simhash60",
    "WITH " + _sql_simhash_pairs(60) + " SELECT doc_a, doc_b, hamming FROM pairs",
)
def dedup_simhash60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SimHash operating point: sim_bits=60 (15-bit
    bands, 32768 buckets/band), same threshold=3 / n_bands=4 pigeonhole
    contract as the 32-bit query above — Manku et al. WWW'07's f=64,
    k=3 at the widest signature whose md5 hex prefix both engines parse
    into a signed 64-bit int. This is the corpus-scale config, not a
    variant: at 5M docs the 32-bit bands generated 227.4B candidate
    pairs vs 60-bit's 2.07B (110x fewer, 8.4x faster end-to-end;
    SCALE30.md 1000x notes). Registered so the measured scale knob
    carries its own driver verdict instead of riding the 32-bit oracle
    chain; the 32-bit twin stays registered (tail) for the historical
    verdict chain and as dedup_groups_cc's upstream."""
    return dd.simhash_hamming_pairs(_docs(spark, sf_dir), sim_bits=60)


# ---------------------------------------------------------------------------
# Dedup: connected components over near-dup pairs -> survivor election
# ---------------------------------------------------------------------------

@query(
    "dedup_groups_cc",
    _sql_groups_cc(32),
)
def dedup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: connected components over the
    SimHash pair graph; component_id = MIN doc id = the elected survivor
    (keep-first). The oracle is a recursive-CTE transitive closure —
    exact but quadratic-in-component; the Spark side is the
    O(log^2 n)-round large-star/small-star operator
    (operators/dedup.py:connected_components), the corpus-scale path."""
    pairs = dd.simhash_hamming_pairs(_docs(spark, sf_dir))
    return dd.connected_components(pairs)


@query(
    "dedup_groups_cc60",
    _sql_groups_cc(60),
)
def dedup_groups_cc60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup pipeline end-to-end: connected components
    over the sim_bits=60 (15-bit-band) SimHash pair graph — the config
    production callers actually run. Same CC operator and survivor
    election (component_id = MIN doc id) as dedup_groups_cc; the only
    difference is the upstream band width, which is THE dedup scale
    knob: at 5M docs the 60-bit pipeline measured 21.8 s end-to-end
    (163k pairs, max bucket 1,216) vs the 32-bit oracle-chain twin's
    316 s (227.4B candidates) — SCALE30.md 1000x notes. Registered so
    the measured production pipeline carries its own driver verdict
    (VERDICT r7 ask #2); the 32-bit dedup_groups_cc moves to the tail
    as the historical oracle-chain twin."""
    pairs = dd.simhash_hamming_pairs(_docs(spark, sf_dir), sim_bits=60)
    return dd.connected_components(pairs)


# ---------------------------------------------------------------------------
# Similarity: brute-force cosine top-k (exact baseline)
# ---------------------------------------------------------------------------

_SQL_COMP = """
comp AS (
  SELECT vec_id, u.i AS pos, CAST(ROUND(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (
    SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i) u
),
n2 AS (SELECT vec_id, SUM(q * q) AS n2 FROM comp GROUP BY vec_id)
"""

# The registered `cosine_topk` query was RETIRED in r6 (VERDICT r5 item
# 3): it was the last corpus-proportional query slice (`vec_id % 50`), so
# its measured cost grew quadratically with the corpus by construction.
# The exact kernel (operators/similarity.py:cosine_topk) is unchanged and
# still driver-verified every round INSIDE ann_recall_eval, which runs it
# as the ground-truth baseline on the fixed lowest-100 query sample;
# llm-ann-query (llm_tasks.py:ANN_QUERIES) probes the same fixed-count
# shape.


# ---------------------------------------------------------------------------
# Similarity: LSH-bucketed ANN (the scale path)
# ---------------------------------------------------------------------------

_SQL_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {j})"
    for j in range(8)
)

# Fixed-count deterministic query sample for the recall eval (r5), the
# shape of llm-ann-query's fixed query set (llm_tasks.py:ANN_QUERIES): a
# fixed count keeps the eval O(corpus).
_RECALL_EVAL_QUERIES = 100

# Oracle twin of corpus_stats.py:term_document_frequency (CTE dfreq).
_SQL_DFREQ = _sql_words("documents") + """,
    terms AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM words),
    dfreq AS (SELECT term, COUNT(*) AS df FROM terms WHERE term <> '' GROUP BY term)"""

# Oracle twin of corpus_stats.py:tokenize_with_vocab over the corpus's
# own top-100 DF vocabulary — shared by tokenize_vocab_ids and the
# shard-export invariance query so a tokenization tweak cannot
# desynchronize them (the _sql_simhash_pairs pattern).
_SQL_TOKENIZE = _SQL_DFREQ + """,
    vocab AS (
      SELECT term, CAST(rnk AS BIGINT) AS token_id FROM (
        SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rnk FROM dfreq)
      WHERE rnk <= 100
    ),
    ex AS (
      SELECT doc_id, u.i AS pos, w[u.i] AS term
      FROM words, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) u
    ),
    tok AS (
      SELECT e.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(CASE WHEN v.token_id IS NULL THEN 1 END) AS BIGINT) AS n_oov,
             string_agg(CAST(COALESCE(v.token_id, 0) AS VARCHAR), ',' ORDER BY e.pos) AS ids_csv
      FROM ex e LEFT JOIN vocab v ON v.term = e.term
      GROUP BY e.doc_id
    )"""


@query(
    "tokenize_vocab_ids",
    "WITH " + _SQL_TOKENIZE + """
    SELECT doc_id, n_tokens, n_oov, ids_csv FROM tok
    """,
)
def tokenize_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id materialization (operators/corpus_stats.py:
    tokenize_with_vocab): the corpus's own top-100 document-frequency
    terms become the vocabulary (rank = token id, ties broken by term
    so the cut is deterministic), every document's word sequence maps
    to ids with OOV = 0, emitted in document order. The vocab head is
    a distributed top-k (sort+limit -> TakeOrdered) then a 100-row
    window (corpus_stats.top_df_vocab, the export task's vocabulary)."""
    from ..operators import corpus_stats as cs  # noqa: PLC0415

    d = _docs(spark, sf_dir)
    return cs.tokenize_with_vocab(d, cs.top_df_vocab(d, 100))


@query(
    "ann_recall_eval",
    "WITH " + _SQL_COMP + f""",
    qsel AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_RECALL_EVAL_QUERIES}),
    edots AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id, SUM(a.q * b.q) AS dot
      FROM comp a JOIN comp b ON a.pos = b.pos
      WHERE a.vec_id IN (SELECT vec_id FROM qsel) AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    esc AS (
      SELECT query_id, cand_id, dot / (sqrt(qa.n2) * sqrt(qb.n2)) AS cos
      FROM edots JOIN n2 qa ON qa.vec_id = query_id JOIN n2 qb ON qb.vec_id = cand_id
    ),
    e5 AS (SELECT query_id, cand_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
             FROM esc) WHERE rank <= 5),
    bk AS (SELECT vec_id, {_SQL_BUCKET} AS bucket FROM embeddings),
    apairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id
      FROM bk q JOIN bk c ON q.bucket = c.bucket
      WHERE q.vec_id IN (SELECT vec_id FROM qsel) AND q.vec_id <> c.vec_id
    ),
    adots AS (
      SELECT p.query_id, p.cand_id, SUM(a.q * b.q) AS dot
      FROM apairs p
      JOIN comp a ON a.vec_id = p.query_id
      JOIN comp b ON b.vec_id = p.cand_id AND b.pos = a.pos
      GROUP BY 1, 2
    ),
    asc_ AS (
      SELECT query_id, cand_id, dot / (sqrt(qa.n2) * sqrt(qb.n2)) AS cos
      FROM adots JOIN n2 qa ON qa.vec_id = query_id JOIN n2 qb ON qb.vec_id = cand_id
    ),
    a5 AS (SELECT query_id, cand_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
             FROM asc_) WHERE rank <= 5)
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(a.cand_id) AS BIGINT) AS n_hit,
           CAST(ROUND(10000.0 * COUNT(a.cand_id) / COUNT(*)) AS BIGINT) AS recall_bp
    FROM e5 e LEFT JOIN a5 a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
    GROUP BY e.query_id
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sign-LSH ANN index against the exact cosine
    baseline, per query (operators/similarity.py:ann_recall_at_k) —
    the quality gate that decides whether an approximate index may
    replace the exact path, computed entirely in-engine by composing
    the two top-k operators and one counting join.

    The query set is a FIXED-COUNT deterministic sample (the
    {_RECALL_EVAL_QUERIES} lowest vec_ids — the same shape as
    llm-ann-query's query set, plans/llm_tasks.py:ANN_QUERIES),
    not a corpus-proportional slice: a recall estimate needs a bounded
    sample, and sampling makes the whole eval O(corpus) (one exact
    scan per fixed query set) instead of O(corpus^2 / p) — the r4
    22.9x-at-100x SCALE row was exactly the proportional-slice cost,
    not an engine property."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_RECALL_EVAL_QUERIES)
    exact = sim.cosine_topk(emb, queries, k=5)
    ann = sim.ann_lsh_topk(emb, queries, k=5)
    return sim.ann_recall_at_k(exact, ann)


# ---------------------------------------------------------------------------
# Text analysis: quality metrics + token counts
# ---------------------------------------------------------------------------

@query(
    "text_quality",
    f"""
    SELECT doc_id,
           {tx.ws_token_count_sql("text")} AS n_ws_tokens,
           {tx.bpe_token_count_sql("text")} AS n_bpe_tokens,
           {tx.punct_ratio_bp_sql("text")} AS punct_bp,
           {tx.stopword_ratio_bp_sql("text")} AS stopword_bp,
           {tx.quality_score_bp_sql("text")} AS quality_bp
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        tx.ws_token_count(t).cast("long").alias("n_ws_tokens"),
        tx.bpe_token_count(t).cast("long").alias("n_bpe_tokens"),
        tx.punct_ratio_bp(t).alias("punct_bp"),
        tx.stopword_ratio_bp(t).alias("stopword_bp"),
        tx.quality_score_bp(t).alias("quality_bp"),
    )


# ---------------------------------------------------------------------------
# Text analysis: language-ID heuristic
# ---------------------------------------------------------------------------

# Oracles select the language scores once, as columns s_<lang>.
_LANG_COLS = {lang: f"s_{lang}" for lang in tx.LANG_PROFILES}
_SQL_LANG_SCORES = ", ".join(f"{e} AS s_{lang}" for lang, e in tx.lang_scores_sql("text").items())

@query(
    "lang_id",
    f"""
    WITH src AS (
      SELECT doc_id, lang,
             text || CASE WHEN doc_id % 23 = 0 THEN repeat(' el la de y', 12)
                          WHEN doc_id % 29 = 0 THEN repeat(' der die und ist', 12)
                          WHEN doc_id % 37 = 0 THEN repeat(' le et est', 12)
                          WHEN doc_id % 41 = 0
                            THEN repeat(' el y', 12) || repeat(' der ist', 12)
                          ELSE '' END AS text
      FROM documents
    ),
    s AS (SELECT doc_id, lang AS labeled_lang, {_SQL_LANG_SCORES} FROM src)
    SELECT doc_id, labeled_lang, {", ".join(_LANG_COLS.values())},
           {tx.lang_id_sql(_LANG_COLS)} AS predicted_lang
    FROM s
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generator's vocabulary carries only ENGLISH marker words, so
    without derivation the es/de/fr branches — and the tie-priority
    order (en > es > de > fr) — were vacuous at every sf (r9 audit):
    every doc classified en or und. Planted suffixes make each branch
    win somewhere, and the % 41 class plants an exact es/de score TIE
    (24 = 24 > s_en) so the preference order itself is cross-engine
    observable (Spark's reversed when-chain vs the oracle's CASE)."""
    d = _docs(spark, sf_dir)
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 23 == 0, F.repeat(F.lit(" el la de y"), 12))
        .when(F.col("doc_id") % 29 == 0, F.repeat(F.lit(" der die und ist"), 12))
        .when(F.col("doc_id") % 37 == 0, F.repeat(F.lit(" le et est"), 12))
        .when(
            F.col("doc_id") % 41 == 0,
            F.concat(
                F.repeat(F.lit(" el y"), 12), F.repeat(F.lit(" der ist"), 12)
            ),
        )
        .otherwise(F.lit("")),
    )
    scores = tx.lang_scores(t)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[s.cast("long").alias(f"s_{lang}") for lang, s in scores.items()],
        tx.lang_id(t).alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# Text analysis: document fingerprints (exact + prefix + min-shingle-hash)
# ---------------------------------------------------------------------------

@query(
    "doc_fingerprints",
    "WITH " + _sql_shingles("documents") + f""",
    msh AS (SELECT doc_id, MIN(h) AS min_shingle_hash FROM hashed GROUP BY doc_id)
    SELECT n.doc_id,
           md5(n.t) AS fingerprint,
           md5(substr(n.t, 1, {tx.PREFIX_CHARS})) AS prefix_fingerprint,
           m.min_shingle_hash
    FROM norm n LEFT JOIN msh m ON m.doc_id = n.doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).withColumn("_words", F.split(tx.normalize_text(F.col("text")), " "))
    return d.select(
        "doc_id",
        tx.doc_fingerprint(F.col("text")).alias("fingerprint"),
        tx.prefix_fingerprint(F.col("text")).alias("prefix_fingerprint"),
        tx.rolling_min_shingle_hash("_words").alias("min_shingle_hash"),
    )


# ---------------------------------------------------------------------------
# Similarity: IVF-bucketed ANN (inverted-file cells, deterministic pivots)
# ---------------------------------------------------------------------------

@query(
    "ann_ivf_topk",
    "WITH " + _SQL_COMP + f""",
    piv AS (SELECT vec_id AS pivot_id FROM embeddings ORDER BY vec_id LIMIT {sim.IVF_PIVOTS}),
    pd AS (
      SELECT c.vec_id, p.pivot_id, SUM(c.q * pc.q) AS dot
      FROM comp c
      JOIN comp pc ON pc.pos = c.pos
      JOIN piv p ON pc.vec_id = p.pivot_id
      GROUP BY 1, 2
    ),
    ascored AS (
      SELECT pd.vec_id, pd.pivot_id, pd.dot / (sqrt(n.n2) * sqrt(pn.n2)) AS cos
      FROM pd JOIN n2 n ON n.vec_id = pd.vec_id JOIN n2 pn ON pn.vec_id = pd.pivot_id
    ),
    cell AS (
      SELECT vec_id, pivot_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pivot_id) AS rn
        FROM ascored) WHERE rn = 1
    ),
    qsel AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_RECALL_EVAL_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id
      FROM cell q JOIN cell c ON q.cell = c.cell
      WHERE q.vec_id IN (SELECT vec_id FROM qsel) AND q.vec_id <> c.vec_id
    ),
    dots AS (
      SELECT p.query_id, p.cand_id, SUM(a.q * b.q) AS dot
      FROM pairs p
      JOIN comp a ON a.vec_id = p.query_id
      JOIN comp b ON b.vec_id = p.cand_id AND b.pos = a.pos
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT query_id, cand_id, dot / (sqrt(qa.n2) * sqrt(qb.n2)) AS cos
      FROM dots JOIN n2 qa ON qa.vec_id = query_id JOIN n2 qb ON qb.vec_id = cand_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM sc)
    SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, cos FROM r WHERE rank <= {sim.IVF_K}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-pivot IVF top-k; query set = the fixed lowest-100
    sample (r5, same contract as ann_recall_eval — an ANN query serves
    a bounded set per call; the corpus-proportional slice made the
    registered query quadratic-ish)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_RECALL_EVAL_QUERIES)
    return sim.ann_ivf_topk(emb, queries)


# ---------------------------------------------------------------------------
# Dedup: embedding-cosine near-duplicates (semantic dedup)
# ---------------------------------------------------------------------------

@query(
    "dedup_embedding_cosine",
    # dots via zipped parallel unnests of the two row-fetched arrays —
    # same join-shape fix as ann_lsh_multiprobe_topk (the exploded-comp
    # self-join on the 64-value pos key invited a quadratic join
    # reorder; this form is capped at |pairs| x 64 and cut the sf1
    # oracle from 108s to seconds).
    "WITH " + _SQL_COMP + f""",
    bk AS (SELECT vec_id, {_SQL_BUCKET} AS bucket FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT p.doc_a, p.doc_b,
             (SELECT SUM(CAST(ROUND(CAST(ax AS DOUBLE) * 1000000) AS BIGINT)
                         * CAST(ROUND(CAST(bx AS DOUBLE) * 1000000) AS BIGINT))
              FROM (SELECT unnest(ea.embedding) AS ax, unnest(eb.embedding) AS bx)) AS dot
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.doc_a
      JOIN embeddings eb ON eb.vec_id = p.doc_b
    )
    SELECT doc_a, doc_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
    FROM dots JOIN n2 na ON na.vec_id = doc_a JOIN n2 nb ON nb.vec_id = doc_b
    WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.25
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs over the embeddings table. The 0.25
    threshold is tuned to this synthetic corpus (random-ish vectors — a
    real pipeline dedups at ~0.95); the operator shape is what matters:
    LSH-bucketed candidates, exact integer-quantized cosine scoring."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(emb, threshold=0.25)


# ---------------------------------------------------------------------------
# Multimodal: binary payload plumbing through Arrow-batched pandas
# ---------------------------------------------------------------------------

@query(
    "multimodal_decode_stats",
    r"""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(list_sum(list_transform(range(1, length(text) + 1),
                                        i -> ord(substr(text, i, 1)))) AS DOUBLE)
             / octet_length(encode(text)) AS mean_byte,
           doc_id % 31 <> 0 AS decode_ok,
           CASE WHEN doc_id % 31 <> 0 THEN CAST(1 + doc_id % 7 AS INTEGER) END AS width,
           CASE WHEN doc_id % 31 <> 0 THEN CAST(1 + doc_id % 5 AS INTEGER) END AS height,
           CASE WHEN doc_id % 31 <> 0 THEN CAST(CASE doc_id % 5
                WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3 WHEN 3 THEN 2
                ELSE 4 END AS INTEGER) END AS n_channels,
           CASE WHEN doc_id % 31 <> 0
                THEN CAST((doc_id % 256) * 1000 AS BIGINT) END AS mean_pixel_milli,
           TRUE AS audio_ok,
           CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
           CAST(1 + doc_id % 9 AS BIGINT) AS n_samples,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_audio_channels,
           CAST(abs(doc_id % 1001 - 500) * 1000 AS BIGINT) AS mean_abs_milli
    FROM documents
    """,
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE decode paths under one oracle. (a) Documents' text bytes
    stand in for opaque media payloads; the deterministic fake decoder
    (operators/multimodal.py:fake_decode_stats) computes byte stats in
    the Arrow mapInPandas shape. (b) r5, widened r9: the REAL stdlib PNG
    codec round-trip — each doc synthesizes a deterministic PNG (width
    1 + doc_id%7, height 1 + doc_id%5, every sample doc_id%256) whose
    COLOR TYPE cycles through all five supported variants (doc_id%5 ->
    gray/RGB/palette/gray-alpha/RGBA), whose scanline FILTERS cycle
    through all five unfilter branches, and where doc_id%31 payloads
    are truncated mid-IHDR (decode_ok=false + NULL stats — the P8
    exception-tolerant class under the driver gate, not just the
    pytest fuzz); decode_image_stats runs the actual
    zlib+struct+unfilter decoder over it. (c) r5: the
    REAL stdlib WAV PCM round-trip — a deterministic clip per doc
    (rate 8000 + (doc_id%4)*4000, 1 + doc_id%9 frames, 1 + doc_id%2
    channels, constant amplitude doc_id%1001 - 500) through encode_wav
    -> decode_audio_stats. The oracle predicts every decoded
    dimension/mean ANALYTICALLY (pure SQL arithmetic on doc_id — DuckDB
    never touches a PNG or WAV), so a codec bug anywhere in either
    encode-or-decode chain breaks the value hash. Payload bytes never
    shuffle: all three stats stages are map-local scans; the final
    stitch joins three slim metadata tables on media_id."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from ..operators.multimodal import (  # noqa: PLC0415
        decode_audio_stats,
        decode_image_stats,
        encode_png,
        encode_wav,
    )

    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("payload")
    )
    fake = fake_decode_stats(media)

    # Full decoder matrix under the driver gate (r9): color type cycles
    # through all five supported variants, every scanline's filter type
    # cycles through all five unfilter branches, and doc_id % 31 rows
    # are truncated mid-IHDR to exercise the exception-tolerant failure
    # class (decode_ok = false, NULL stats — the P8 contract). All
    # pixel samples (incl. alpha, incl. the gray palette) hold the same
    # value, so the oracle's analytic mean is color-type-invariant
    # while n_channels discriminates the decode path taken.
    _CT = (0, 2, 3, 4, 6)
    _CHAN_IN = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    _PLTE = bytes(b for v in range(256) for b in (v, v, v))

    def synth_png(it):
        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            payloads = []
            for i in ids:
                i = int(i)
                v, ct = i % 256, _CT[i % 5]
                h, w = 1 + i % 5, 1 + i % 7
                png = encode_png(
                    np.full((h, w, _CHAN_IN[ct]), v, dtype=np.uint8),
                    color_type=ct,
                    filters=[(i + y) % 5 for y in range(h)],
                    palette=_PLTE if ct == 3 else None,
                )
                payloads.append(png[:20] if i % 31 == 0 else png)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    def synth_wav(it):
        for pdf in it:
            ids = pdf["doc_id"].to_numpy()
            payloads = [
                encode_wav(
                    np.full((1 + int(i) % 9, 1 + int(i) % 2), int(i) % 1001 - 500, dtype=np.int32),
                    sample_rate=8000 + (int(i) % 4) * 4000,
                )
                for i in ids
            ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    png_media = d.select("doc_id").mapInPandas(synth_png, "media_id long, payload binary")
    wav_media = d.select("doc_id").mapInPandas(synth_wav, "media_id long, payload binary")
    img = decode_image_stats(png_media).withColumnRenamed("media_id", "media_id_i")
    aud = decode_audio_stats(wav_media).select(
        F.col("media_id").alias("media_id_a"),
        F.col("decode_ok").alias("audio_ok"),
        "sample_rate", "n_samples", "n_audio_channels", "mean_abs_milli",
    )
    return (
        fake.join(img, fake["media_id"] == img["media_id_i"], "inner")
        .join(aud, fake["media_id"] == aud["media_id_a"], "inner")
        .select(
            "media_id", "n_bytes", "payload_md5", "mean_byte",
            "decode_ok", "width", "height", "n_channels", "mean_pixel_milli",
            "audio_ok", "sample_rate", "n_samples", "n_audio_channels", "mean_abs_milli",
        )
    )


# ---------------------------------------------------------------------------
# Capstone: composite corpus-cleaning pipeline (quality ∧ language ∧
# exact-dedup keeper ∧ not-a-near-dup) in ONE declarative plan
# ---------------------------------------------------------------------------

def _sql_curate(src: str) -> str:
    """The curate selection over ``src`` (doc_id, text) as CTEs — the
    DuckDB twin of operators/curation.py's kernel. ``nd`` holds the
    near-dup losers (``doc_b``); ``k`` holds every document's
    ``quality_bp``, ``predicted_lang``, ``fp``, ``min_id`` (its
    exact-dup group's keeper) and the ``ok_quality``/``ok_lang`` checks;
    ``kept`` holds the survivors."""
    langs = ", ".join(f"'{lang}'" for lang in cu.CURATE_LANGS)
    return _sql_lsh_pairs(src) + f""",
    nd AS (SELECT DISTINCT doc_b FROM lsh WHERE jaccard_bp >= {cu.JACCARD_MIN_BP}),
    scored AS (
      SELECT doc_id, {tx.quality_score_bp_sql("text")} AS quality_bp,
             {tx.doc_fingerprint_sql("text")} AS fp, {_SQL_LANG_SCORES}
      FROM {src}
    ),
    langed AS (
      SELECT doc_id, quality_bp, fp, {tx.lang_id_sql(_LANG_COLS)} AS predicted_lang
      FROM scored),
    k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS min_id,
                 quality_bp >= {cu.QUALITY_MIN_BP} AS ok_quality,
                 predicted_lang IN ({langs}) AS ok_lang
          FROM langed),
    kept AS (
      SELECT doc_id, quality_bp, predicted_lang FROM k
      WHERE ok_quality AND ok_lang AND doc_id = min_id AND doc_id NOT IN (SELECT doc_b FROM nd))"""


@query("corpus_clean_keep", "WITH " + _sql_curate("documents") + " SELECT * FROM kept")
def corpus_clean_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline capstone: which documents survive cleaning —
    quality >= 0.2, language en/und, the min-id keeper of each exact
    duplicate group, and not the discarded side of a MinHash-LSH near-dup
    pair (jaccard >= 0.5, keep-smaller-id). One declarative plan chaining
    four operator families; every stage shares the scan and Catalyst
    pipelines the filters. The selection is the curate kernel
    (operators/curation.py) that llm-curate-corpus runs."""
    d = _docs(spark, sf_dir)
    losers = cu.near_dup_losers(dd.minhash_lsh_pairs(d))
    ok_quality, ok_lang, keeper = cu.curate_checks()
    return (
        cu.curate_scores(d)
        .where(ok_quality & ok_lang & keeper)
        .select(
            "doc_id",
            F.col("_quality_bp").alias("quality_bp"),
            F.col("_lang").alias("predicted_lang"),
        )
        .join(losers, on="doc_id", how="left_anti")
    )


_SQL_MULTILINGUAL_SRC = """src0 AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 23 = 0
                        THEN repeat(' ' || i || ' el ' || i || ' la ' || i || ' de ' || i || ' y', 12)
                      WHEN doc_id % 29 = 0
                        THEN repeat(' ' || i || ' der ' || i || ' die ' || i || ' und ' || i || ' ist', 12)
                      WHEN doc_id % 37 = 0
                        THEN repeat(' ' || i || ' le ' || i || ' et ' || i || ' est', 12)
                      WHEN doc_id % 41 = 0
                        THEN repeat(' ' || i || ' el ' || i || ' y', 12)
                          || repeat(' ' || i || ' der ' || i || ' ist', 12)
                      ELSE '' END AS text
  FROM (SELECT doc_id, text, CAST(doc_id AS VARCHAR) AS i FROM documents)
),
mx AS (SELECT MAX(doc_id) AS m FROM documents),
src AS (
  SELECT doc_id, text FROM src0
  UNION ALL
  SELECT s.doc_id + x.m + 1 AS doc_id, s.text
  FROM src0 s, mx x WHERE s.doc_id % 53 = 2
)"""


@query(
    "corpus_clean_verdicts",
    "WITH " + _SQL_MULTILINGUAL_SRC + ", " + _sql_curate("src") + """
    SELECT k.doc_id, k.quality_bp, k.predicted_lang,
           CASE WHEN NOT k.ok_quality THEN 'quality'
                WHEN NOT k.ok_lang THEN 'lang'
                WHEN k.doc_id <> k.min_id THEN 'exact_dup'
                WHEN nd.doc_b IS NOT NULL THEN 'near_dup'
                ELSE 'keep' END AS verdict
    FROM k LEFT JOIN nd ON nd.doc_b = k.doc_id
    """,
)
def corpus_clean_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation OUTCOME LEDGER over a multilingual-planted corpus —
    closes the last pre-declared vacuity (CLAUDE.md): corpus_clean_keep's
    lang gate never dropped a document because the generator vocabulary
    is English-only, so both engines agreed on a branch that never
    fired. Here the lang_id suffix derivation (the late-r9 planting,
    same arithmetic in both engines) is threaded through the ENTIRE
    clean-keep pipeline — the oracle's curate fragment takes the derived
    corpus ``src`` as its source table — and instead of emitting survivors
    the query emits every document with its verdict: 'quality',
    'lang', 'exact_dup', 'near_dup' (CASE precedence pinned in that
    order, cross-engine), or 'keep'. The planted es/de/fr suffixes
    guarantee the 'lang' verdict is non-empty by construction, and —
    because the shared corpus plants only PREFIX duplicates, which the
    full-text fingerprint cannot see — the 'exact_dup' class is made
    non-vacuous the same way: every doc_id % 53 = 2 document is cloned
    (post-suffix, so the fingerprints match exactly) under
    max(doc_id)+1+doc_id, putting the clone on the non-keeper side.
    tests/test_fixture_vitality.py asserts all five verdict classes
    fire at the gate scale.

    Scale shape: identical to corpus_clean_keep — one shared scan,
    column-expression scoring (codegen), the occupancy-guarded LSH
    candidate equi-join (never all-pairs), plus one broadcast-size
    left join against the near-dup loser set. The suffix cycles
    INTERLEAVE the doc_id token so every planted shingle is
    doc-unique — the first draft repeated identical word cycles and
    at sf10 the short docs of each lang class collapsed into shared
    LSH buckets (157.3M candidate pairs vs the raw corpus's 167k,
    max bucket 8,816 — the CLAUDE.md fixed-key-space failure class,
    reproduced in-query and caught by the bucket-occupancy probe);
    with the id interleaved the planting's key space grows with the
    corpus and candidates stay occupancy-bound (lang scores are
    unaffected: the profile regex counts words regardless of
    neighboring number tokens)."""
    d0 = _docs(spark, sf_dir)
    i = F.col("doc_id").cast("string")

    def _cycle(*words: str):
        parts = []
        for w in words:
            parts.extend([F.lit(" "), i, F.lit(" " + w)])
        return F.concat(*parts)

    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 23 == 0, F.repeat(_cycle("el", "la", "de", "y"), 12))
        .when(F.col("doc_id") % 29 == 0, F.repeat(_cycle("der", "die", "und", "ist"), 12))
        .when(F.col("doc_id") % 37 == 0, F.repeat(_cycle("le", "et", "est"), 12))
        .when(
            F.col("doc_id") % 41 == 0,
            F.concat(
                F.repeat(_cycle("el", "y"), 12), F.repeat(_cycle("der", "ist"), 12)
            ),
        )
        .otherwise(F.lit("")),
    )
    src0 = d0.select("doc_id", t.alias("text"))
    max_id = d0.agg(F.max("doc_id")).collect()[0][0]  # control-plane scalar
    clones = src0.where(F.col("doc_id") % 53 == 2).select(
        (F.col("doc_id") + F.lit(max_id + 1)).alias("doc_id"), "text"
    )
    # The derived corpus feeds the scoring pass AND every internal scan
    # of the LSH pipeline (signatures, bucket self-join sides, the
    # Jaccard verify's re-shingle) — ~8 parquet scans each re-running
    # the suffix concat + clone union without this persist (r9 paired
    # A/B: +1.47 s median, 4/4 signs at sf0.1, results hash-identical).
    # track_persist so release_cached() frees it deterministically at
    # the next query construction (bench/run_task stage boundaries).
    d = track_persist(src0.unionByName(clones))
    base = cu.curate_scores(d)
    nd = cu.near_dup_losers(dd.minhash_lsh_pairs(d)).select(
        F.col("doc_id").alias("doc_b")
    )
    ok_quality, ok_lang, keeper = cu.curate_checks()
    return base.join(nd, base["doc_id"] == nd["doc_b"], "left").select(
        "doc_id",
        F.col("_quality_bp").alias("quality_bp"),
        F.col("_lang").alias("predicted_lang"),
        F.when(~ok_quality, F.lit("quality"))
        .when(~ok_lang, F.lit("lang"))
        .when(~keeper, F.lit("exact_dup"))
        .when(F.col("doc_b").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Curation: per-group quantile quality filter + source balancing
# (operators/curation.py) — the corpus-mixing stage of a training pipeline.
# ---------------------------------------------------------------------------

@query(
    "quantile_quality_keep",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, {tx.quality_score_bp_sql("text")} AS quality_bp FROM documents
    ),
    hist AS (SELECT lang, quality_bp, COUNT(*) AS c FROM scored GROUP BY lang, quality_bp),
    cum AS (
      SELECT lang, quality_bp,
             SUM(c) OVER (PARTITION BY lang ORDER BY quality_bp DESC) AS n_ge,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM hist
    ),
    thr AS (
      SELECT lang, MAX(quality_bp) AS thr_quality_bp
      FROM cum WHERE n_ge >= (n + 4) // 5
      GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.quality_bp, t.thr_quality_bp
    FROM scored s JOIN thr t ON s.lang = t.lang
    WHERE s.quality_bp >= t.thr_quality_bp
    """,
)
def quantile_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each language's top ~20% of documents by quality, threshold
    tie-inclusive. The threshold is the k-th order statistic computed
    from the bounded [0,10000] score HISTOGRAM — a tiny map-combined
    aggregation + broadcast, never a rank over a giant per-language
    partition (the 100 TB trap of the naive window formulation)."""
    from ..operators import curation as cu  # noqa: PLC0415

    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id", "lang", tx.quality_score_bp(F.col("text")).alias("quality_bp")
    )
    return cu.quantile_threshold_filter(scored, "lang", "quality_bp").select("doc_id", "lang", "quality_bp", "thr_quality_bp")


@query(
    "balanced_corpus",
    f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE source END AS source,
             lang, n_chars
      FROM documents
    ),
    counts AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
    m AS (SELECT MIN(n_docs) AS min_n FROM counts),
    rates AS (
      SELECT source, CAST((min_n * 10000) // n_docs AS BIGINT) AS rate_bp
      FROM counts, m
    )
    SELECT d.doc_id, d.source, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM d JOIN rates r ON d.source = r.source
    WHERE {md5_long_sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < r.rate_bp
    """,
)
def balanced_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The balanced corpus ITSELF (operators/curation.py:balanced_docs):
    the surviving rows after uniform source mixing — every source
    downsampled to ~the smallest via a deterministic md5-bucket keep
    rate (membership a pure function of doc_id, so reproducible across
    engines/reruns/partitionings; the filter is map-local after a
    broadcast of the tiny per-source rate table, no per-source
    rank/quota sort).

    The driver corpus is PERFECTLY source-balanced (20 sources x
    exactly 25 docs at sf0.01), so every rate_bp computed to 10000 and
    the downsampling never dropped a row — the whole mechanism was
    vacuous under the gate (r9 audit). The derived 'even' mega-source
    (all even doc_ids) plants real skew: its rate lands in the
    hundreds of bp (heavy drop class) while the smallest surviving
    source keeps everything (no-drop class), so both sides of the
    keep/drop membership fire at every sf."""
    from ..operators import curation as cu  # noqa: PLC0415

    d = _docs(spark, sf_dir).withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.lit("even")).otherwise(F.col("source")),
    )
    return cu.balanced_docs(d).select("doc_id", "source", "lang", "n_chars")


@query(
    "epoch_upsample_mix",
    f"""
    WITH w AS (
      SELECT source,
             CAST(5000 + 2 * ({md5_long_sql("source")} % 10000) AS BIGINT) AS weight_bp
      FROM (SELECT DISTINCT source FROM documents)
    ),
    j AS (
      SELECT d.doc_id, d.source,
             w.weight_bp // 10000
             + CASE WHEN {md5_long_sql("'mix' || CAST(d.doc_id AS VARCHAR)")} % 10000
                         < w.weight_bp % 10000 THEN 1 ELSE 0 END AS n
      FROM documents d JOIN w ON w.source = d.source
    )
    SELECT j.doc_id, j.source, CAST(u.i AS BIGINT) AS copy_idx
    FROM j, LATERAL (SELECT unnest(generate_series(1, j.n)) AS i) u
    """,
)
def epoch_upsample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch corpus mixing (operators/curation.py:
    epoch_upsample): per-source epoch weights in [0.5, 2.5) — here
    derived deterministically from the source name's md5 so the demo
    needs no external spec — materialized as floor(w) guaranteed copies
    per doc plus one extra for exactly the fractional share, selected
    by the doc's md5 bucket. One row per materialized training copy."""
    from ..operators import curation as cu  # noqa: PLC0415

    d = _docs(spark, sf_dir)
    w = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (F.lit(5000) + 2 * cu.hash_bucket_bp(F.col("source")))
            .cast("long")
            .alias("weight_bp"),
        )
    )
    return cu.epoch_upsample(d, w)


@query(
    "split_leakage_check",
    f"""
    WITH fp AS (SELECT doc_id, {tx.prefix_fingerprint_sql("text")} AS f FROM documents),
    comp AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS component_id FROM fp
    ),
    s AS (
      SELECT doc_id, component_id,
             CASE WHEN bp < 9000 THEN 'train'
                  WHEN bp < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, component_id,
               {md5_long_sql("'split' || CAST(component_id AS VARCHAR)")} % 10000 AS bp
        FROM comp)
    ),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaked_groups FROM (
        SELECT component_id FROM s GROUP BY component_id
        HAVING COUNT(DISTINCT split) > 1)
    )
    SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.component_id) AS BIGINT) AS n_groups,
           l.leaked_groups
    FROM s CROSS JOIN leak l
    GROUP BY s.split, l.leaked_groups
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage-safe train/val/test split's INVARIANT under the
    driver oracle (VERDICT r5 item 6): run
    operators/curation.py:leakage_safe_split keyed by exact-dup
    components (fingerprint -> min doc_id, the dedup_incremental
    index shape), then report per-split doc/group counts plus the
    global count of groups straddling >1 split. The split rule is the
    engine's deterministic md5-bucket membership on the COMPONENT id,
    so leaked_groups = 0 by construction — but the oracle recomputes
    the assignment independently from the same public rule, so a
    regression to doc-keyed splitting (the silent-leakage bug this
    operator exists to prevent) flips the per-split doc counts and
    fails the hash, not just the invariant column.

    Scale shape: components come from a window-min over the
    fingerprint partition (one corpus shuffle — no fingerprint
    self-join), and the whole audit collapses into ONE
    (component, split) hash aggregate, persisted slim (two longs + an
    enum per near-dup group); both outputs — the per-split rollup and
    the global leaked-group count — are derived from that aggregate,
    so the corpus is never re-scanned per output branch (the first
    formulation re-derived the split subtree under each consumer: 10
    parquet scans of `documents` in the plan)."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..operators import curation as cu  # noqa: PLC0415
    from ..operators.util import track_persist  # noqa: PLC0415

    d = _docs(spark, sf_dir)
    fp = d.select("doc_id", tx.prefix_fingerprint(F.col("text")).alias("_f"))
    comp = fp.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("_f")).alias("component_id")
    )
    split = cu.leakage_safe_split(d, comp)
    g = track_persist(
        split.join(comp, on="doc_id")
        .groupBy("component_id", "split")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    leaked = (
        g.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("_ns"))
        .where(F.col("_ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_groups"))
    )
    return (
        g.groupBy("split")
        .agg(
            F.sum("_n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
        )
        .crossJoin(F.broadcast(leaked))
    )


# sampling.shard_shuffle's rank key at seed 'ep0' (the seed is the prefix salt)
_EP0_KEY_SQL = md5_long_sql("'ep0' || CAST(doc_id AS VARCHAR)")


@query(
    "training_shard_order",
    f"""
    WITH k AS (SELECT doc_id, {_EP0_KEY_SQL} AS _k FROM documents)
    SELECT doc_id, CAST(_k % 16 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY _k % 16 ORDER BY _k, doc_id) AS BIGINT) AS pos
    FROM k
    """,
)
def training_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training
    (operators/sampling.py:shard_shuffle): every doc gets a seeded md5
    rank; shard = rank mod 16, pos = rank order within the shard.
    Reading shards interleaved replays an identical hash-random order
    on any engine/partitioning; the seed ('ep0') reshuffles per epoch.
    Bucket-then-rank, never one global sort partition."""

    return sp.shard_shuffle(_docs(spark, sf_dir), n_shards=16, seed="ep0")


# ---------------------------------------------------------------------------
# Sampling: deterministic hash membership (reproducible at 100 TB, and —
# unlike RNG sampling — oracle-checkable). operators/sampling.py.
# ---------------------------------------------------------------------------

_STRATA = {"click": 5, "view": 20, "purchase": 100}
_STRATA_CASE = "CASE event_type " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _STRATA.items()
) + " ELSE 0 END"


@query(
    "stratified_sample_counts",
    f"""
    SELECT event_type, COUNT(*) AS n_rows
    FROM events
    WHERE {md5_long_sql("CAST(event_id AS VARCHAR) || '|' || event_type || ''")} % 100
          < {_STRATA_CASE}
    GROUP BY event_type
    """,
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rates (downsample dominant classes, keep rare ones
    whole) — the class-balancing step of a training-data pipeline."""
    ev = load_table(spark, sf_dir, "events")
    return (
        sp.stratified_hash_sample(ev, "event_id", "event_type", _STRATA)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "reservoir_per_user",
    f"""
    SELECT user_id, event_id
    FROM (
      SELECT user_id, event_id,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY {md5_long_sql(f"CAST(event_id AS VARCHAR) || '{sp.RESERVOIR_SEED}'")} ASC,
                        event_id ASC) AS rn
      FROM events) t
    WHERE rn <= 3
    """,
)
def reservoir_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k deterministic 'random' rows per group (hash-ranked) — the
    per-source/per-domain spot-check sample, reproducible run to run."""
    ev = load_table(spark, sf_dir, "events")
    return sp.reservoir_per_group(ev, "user_id", "event_id", 3).select(
        "user_id", "event_id"
    )


# ---------------------------------------------------------------------------
# Similarity: multi-probe LSH ANN (recall booster — probe bit-flip buckets)
# ---------------------------------------------------------------------------

_FLIP_PROBES = " UNION ALL ".join(
    f"SELECT vec_id, xor(bucket, {1 << j}) AS bucket FROM qb0" for j in range(8)
)

@query(
    "ann_lsh_multiprobe_topk",
    # NOTE the dots CTE computes each pair's dot by zipping the two
    # row-fetched arrays (DuckDB zips parallel unnests) instead of
    # joining the exploded `comp` table with itself on pos: pos has
    # only 64 values, and at sf1 DuckDB's optimizer reordered that
    # self-join first — a multi-billion-row intermediate that exhausted
    # tens of GB of spill disk. The zipped form caps the intermediate
    # at |pairs| x 64 by construction, so the oracle gate completes at
    # sf1+. Arithmetic is unchanged: float32 -> DOUBLE before scaling,
    # integer-quantized products summed exactly.
    "WITH " + _SQL_COMP + f""",
    bk AS (SELECT vec_id, {_SQL_BUCKET} AS bucket FROM embeddings),
    qsel AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_RECALL_EVAL_QUERIES}),
    qb0 AS (SELECT vec_id, bucket FROM bk WHERE vec_id IN (SELECT vec_id FROM qsel)),
    qb AS (SELECT vec_id, bucket FROM qb0 UNION ALL {_FLIP_PROBES}),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id
      FROM qb q JOIN bk c ON q.bucket = c.bucket
      WHERE q.vec_id <> c.vec_id
    ),
    dots AS (
      SELECT p.query_id, p.cand_id,
             (SELECT SUM(CAST(ROUND(CAST(qx AS DOUBLE) * 1000000) AS BIGINT)
                         * CAST(ROUND(CAST(cx AS DOUBLE) * 1000000) AS BIGINT))
              FROM (SELECT unnest(eq.embedding) AS qx, unnest(ec.embedding) AS cx)) AS dot
      FROM pairs p
      JOIN embeddings eq ON eq.vec_id = p.query_id
      JOIN embeddings ec ON ec.vec_id = p.cand_id
    ),
    scored AS (
      SELECT query_id, cand_id, dot / (sqrt(qa.n2) * sqrt(qb2.n2)) AS cos
      FROM dots JOIN n2 qa ON qa.vec_id = query_id JOIN n2 qb2 ON qb2.vec_id = cand_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM scored)
    SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, cos FROM r WHERE rank <= 3
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: queries probe their bucket AND its 8 single-bit
    flips, recovering near-neighbors that differ on one borderline sign
    bit — recall rises at the cost of ~9 bucket lookups per query while
    the corpus-side index/pass is untouched. The standard accuracy knob
    when raising `bits` for occupancy would otherwise cost recall.

    r5: the query set is the FIXED-COUNT lowest-100 sample (the same
    contract change as ann_recall_eval) — an ANN top-k serves a bounded
    query set per call by definition; the old corpus-proportional
    vec_id % 50 slice made the registered query O(corpus^2/50) and was
    the remaining >5x SCALE row (9.1x at 300x)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(_RECALL_EVAL_QUERIES)
    return sim.ann_lsh_topk(emb, queries, k=3, probes=1)


# ---------------------------------------------------------------------------
# Chunking + sequence packing: the context-window stage (operators/chunking.py)
# ---------------------------------------------------------------------------

_CHUNK_STEP = ck.CHUNK_CHARS - ck.CHUNK_OVERLAP

@query(
    "doc_chunks",
    f"""
    SELECT doc_id, CAST(t.i AS INT) AS chunk_no,
           CAST(t.i * {_CHUNK_STEP} AS INT) AS chunk_start,
           substr(text, CAST(t.i * {_CHUNK_STEP} + 1 AS INT), {ck.CHUNK_CHARS}) AS chunk_text
    FROM documents, LATERAL (
      SELECT unnest(range(0, GREATEST(1,
        CAST(CEIL((length(text) - {ck.CHUNK_OVERLAP}) / {_CHUNK_STEP}.0) AS BIGINT)))) AS i) t
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping CHUNK_CHARS windows sharing CHUNK_OVERLAP chars — map-local
    posexplode, no shuffle; the shape of every context-window splitter."""
    return ck.chunk_fixed(_docs(spark, sf_dir))


@query(
    "packed_batches",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST({md5_long_sql("CAST(doc_id AS VARCHAR) || ''")} % {ck.PACK_SHARDS} AS INT)
               AS shard,
             CAST({tx.ws_token_count_sql("text")} AS INT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT doc_id, shard, CAST(FLOOR((cum - n_tokens) / 200.0) AS BIGINT) AS bin_id, n_tokens
    FROM c
    """,
)
def packed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-fit sequence packing: per md5-shard running token
    sum => bin id; every bin totals <= budget + max_doc_tokens. Shards
    bound the sequential cumsum so the window parallelizes — how a
    distributed packer actually shards a corpus."""
    return ck.pack_greedy(_docs(spark, sf_dir), budget_tokens=200)


# ---------------------------------------------------------------------------
# Corpus statistics: repetition quality signals, global DF, eval-set
# decontamination (operators/corpus_stats.py)
# ---------------------------------------------------------------------------

@query(
    "text_repetition",
    "WITH " + _sql_words("documents") + """,
    bg AS (
      SELECT doc_id, s.bg
      FROM words, LATERAL (
        SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg) s
    ),
    bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
    per_doc AS (SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams
                FROM bgc GROUP BY doc_id)
    SELECT w.doc_id,
           CASE WHEN len(w.w) > 0
                THEN CAST(ROUND(10000.0 * (len(w.w) - len(list_distinct(w.w))) / len(w.w)) AS BIGINT)
                ELSE 0 END AS dup_word_ratio_bp,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                THEN CAST(ROUND(10000.0 * p.top_bigram_n / p.n_bigrams) AS BIGINT)
                ELSE 0 END AS top_bigram_ratio_bp
    FROM words w LEFT JOIN per_doc p ON p.doc_id = w.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    duplicate-word fraction and the share of all bigrams taken by the
    single most frequent bigram — the standard machine-generated-text
    and boilerplate detectors in a training-data curation stack."""
    from ..operators import corpus_stats as cs  # noqa: PLC0415

    return cs.bigram_repetition(_docs(spark, sf_dir))


@query(
    "term_df_top20",
    "WITH " + _SQL_DFREQ + " SELECT term, df FROM dfreq ORDER BY df DESC, term ASC LIMIT 20",
)
def term_df_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The head of the corpus's document-frequency table (the IDF
    dimension that TF-IDF scoring and stopword discovery broadcast-join
    against): top 20 terms by number of documents containing them.
    Tie-broken by term so the LIMIT cut is deterministic."""
    from ..operators import corpus_stats as cs  # noqa: PLC0415

    return (
        cs.term_document_frequency(_docs(spark, sf_dir))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(20)
    )


@query(
    "decontam_overlap",
    "WITH " + _sql_shingles("documents") + """,
    ev AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 97 = 0)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM hashed t JOIN ev ON t.h = ev.h
    WHERE t.doc_id % 97 <> 0
    GROUP BY t.doc_id
    """,
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination scan: training documents sharing >= 1
    word-3-gram with the held-out set (here: every 97th doc stands in
    for the benchmark suite), with the count of distinct shared
    shingles. The flagged ids are what a pipeline anti-joins away
    before training. Eval shingles broadcast — the corpus-side plan is
    one explode + broadcast join + per-doc count."""
    from ..operators import corpus_stats as cs  # noqa: PLC0415

    d = _docs(spark, sf_dir)
    return cs.contamination_overlap(
        d.where(F.col("doc_id") % 97 != 0), d.where(F.col("doc_id") % 97 == 0)
    )


@query(
    "shared_span_pairs",
    "WITH " + ", ".join((_sql_shingles("documents"), _SQL_MINHASH, _SQL_BUCKETS, _SQL_LSH_CAND))
    + f""",
    posh AS (
      SELECT doc_id, u.i AS pos,
             {md5_long_sql("w[u.i] || ' ' || w[u.i+1] || ' ' || w[u.i+2]")} AS h
      FROM words, LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i) u
    ),
    cells AS (
      SELECT DISTINCT c.doc_a, c.doc_b, a.pos AS pa, b.pos AS pb
      FROM cand c
      JOIN posh a ON a.doc_id = c.doc_a
      JOIN posh b ON b.doc_id = c.doc_b AND b.h = a.h
    ),
    isl AS (
      SELECT doc_a, doc_b, pa - pb AS diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS i
      FROM cells
    ),
    runs AS (SELECT doc_a, doc_b, COUNT(*) AS rl FROM isl GROUP BY doc_a, doc_b, diag, i)
    SELECT doc_a, doc_b,
           CAST(MAX(rl) AS BIGINT) AS max_run_shingles,
           CAST(MAX(rl) + 2 AS BIGINT) AS max_run_words,
           CAST(SUM(rl) AS BIGINT) AS n_matches
    FROM runs GROUP BY doc_a, doc_b
    """,
)
def shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest exact shared word-substring per MinHash-LSH candidate
    pair (operators/dedup.py:shared_span_pairs): the substring-level
    dedup signal — how LONG the verbatim overlap is, not just how much
    of the shingle set intersects. Diagonal gaps-and-islands over
    positional shingle hashes; k=3 word-grams."""
    return dd.shared_span_pairs(_docs(spark, sf_dir))


@query(
    "boilerplate_ngrams",
    "WITH " + _sql_shingles("documents") + """,
    df AS (SELECT h, COUNT(*) AS df FROM hashed GROUP BY h),
    pd AS (SELECT t.doc_id, COUNT(*) AS n_shingles,
                  COUNT(CASE WHEN f.df >= 2 THEN 1 END) AS n_boiler
           FROM hashed t JOIN df f ON f.h = t.h GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(pd.n_boiler, 0) AS BIGINT) AS n_boiler,
           CASE WHEN COALESCE(pd.n_shingles, 0) > 0
                THEN CAST(ROUND(10000.0 * pd.n_boiler / pd.n_shingles) AS BIGINT)
                ELSE 0 END AS boiler_ratio_bp
    FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
    """,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span boilerplate detection: the share of each document's
    word-3-gram shingles that also occur in at least one OTHER document
    (BOILER_MIN_DF = 2 on this small corpus; production uses a large one so
    the hot set is a broadcastable head). Templated docs score near
    10000 bp; unique prose near 0."""
    from ..operators import corpus_stats as cs  # noqa: PLC0415

    return cs.boilerplate_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Clustering: distributed Lloyd's k-means (operators/clustering.py) —
# the IVF centroid trainer, oracle-checked by unrolling the fixed
# iteration count into chained CTEs over the same integer arithmetic.
# ---------------------------------------------------------------------------

def _sql_kmeans_ctes(k: int | None, iters: int) -> str:
    """The unrolled-Lloyd CTE chain (comp, n2, seeds, c0, d1..a{iters});
    the final assignment lives in CTE ``a{iters}`` as (vec_id, cluster).
    Shared by kmeans_assign (reads it off directly) and semdedup_pairs
    (joins pairs within the final clusters).

    ``k=None`` derives k from the corpus IN-QUERY as ceil(sqrt(count))
    — the scaled-k SemDeDup contract (semdedup_scaled_pairs): k only
    appears as the seed-rank bound, so a scalar subquery parametrizes
    the whole chain and every downstream CTE is k-agnostic. ceil of a
    correctly-rounded IEEE sqrt equals ceil of the exact sqrt for all
    counts below 2^52 (the gap between sqrt(n) and the nearest integer
    is >= 1/(2*sqrt(n)+2), orders of magnitude above one ulp), so it
    matches the Spark side's integer math.isqrt-derived k exactly."""
    k_bound = (
        str(k)
        if k is not None
        else "(SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM embeddings)"
    )
    parts = [
        "WITH " + _SQL_COMP.strip().rstrip(),
        f""",
seeds AS (SELECT vec_id, rn - 1 AS cluster FROM
            (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings)
          WHERE rn <= {k_bound}),
c0 AS (SELECT s.cluster, p.pos, p.q AS cq FROM seeds s JOIN comp p ON p.vec_id = s.vec_id)""",
    ]
    for t in range(1, iters + 1):
        prev = f"c{t - 1}"
        parts.append(f""",
d{t} AS (SELECT p.vec_id, c.cluster, SUM((p.q - c.cq) * (p.q - c.cq)) AS d2
         FROM comp p JOIN {prev} c ON c.pos = p.pos GROUP BY p.vec_id, c.cluster),
m{t} AS (SELECT vec_id, MIN(d2) AS md FROM d{t} GROUP BY vec_id),
a{t} AS (SELECT d.vec_id, MIN(d.cluster) AS cluster
         FROM d{t} d JOIN m{t} m ON m.vec_id = d.vec_id AND d.d2 = m.md
         GROUP BY d.vec_id)""")
        if t < iters:
            parts.append(f""",
u{t} AS (SELECT a.cluster, p.pos,
                (SUM(p.q) - ((SUM(p.q) % COUNT(*)) + COUNT(*)) % COUNT(*)) // COUNT(*) AS cq
         FROM a{t} a JOIN comp p ON p.vec_id = a.vec_id GROUP BY a.cluster, p.pos),
c{t} AS (SELECT * FROM u{t}
         UNION ALL
         SELECT c.cluster, c.pos, c.cq FROM {prev} c
         WHERE c.cluster NOT IN (SELECT cluster FROM a{t}))""")
    return "".join(parts)


def _sql_kmeans(k: int, iters: int) -> str:
    return (
        _sql_kmeans_ctes(k, iters)
        + f"\nSELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM a{iters}"
    )


@query("kmeans_assign", _sql_kmeans(k=8, iters=3))
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-assign k-means over the embedding corpus: 8 clusters,
    3 Lloyd rounds, lowest-id seeds — the centroid-training stage an
    IVF ANN index runs offline. Integer-exact throughout (quantized
    components, int64 distances, floor-mean centroids), so the unrolled
    DuckDB oracle reproduces every round bit-for-bit."""
    from ..operators import clustering as cl  # noqa: PLC0415

    return cl.kmeans_fit(load_table(spark, sf_dir, "embeddings"), k=8, iters=3)[0]


# ---------------------------------------------------------------------------
# Similarity: persisted-IVF index lifecycle (train -> write -> reload -> probe)
# ---------------------------------------------------------------------------

@query(
    "ann_ivf_persisted_topk",
    _sql_kmeans_ctes(k=8, iters=3)
    + """,
    cn2 AS (SELECT cluster, SUM(cq * cq) AS n2 FROM c2 GROUP BY cluster),
    qsel AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 100),
    qc AS (
      SELECT q.vec_id AS query_id, c.cluster, SUM(p.q * c.cq) AS dot
      FROM qsel q
      JOIN comp p ON p.vec_id = q.vec_id
      JOIN c2 c ON c.pos = p.pos
      GROUP BY 1, 2
    ),
    qcos AS (
      SELECT qc.query_id, qc.cluster, qc.dot / (sqrt(qn.n2) * sqrt(cn.n2)) AS cos
      FROM qc JOIN n2 qn ON qn.vec_id = qc.query_id JOIN cn2 cn ON cn.cluster = qc.cluster
    ),
    pcell AS (
      SELECT query_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cluster) AS rn
        FROM qcos) WHERE rn <= 2
    ),
    pairs AS (
      SELECT p.query_id, a.vec_id AS cand_id
      FROM pcell p JOIN a3 a ON a.cluster = p.cluster
      WHERE a.vec_id <> p.query_id
    ),
    dots AS (
      SELECT p.query_id, p.cand_id,
             (SELECT SUM(CAST(ROUND(CAST(ax AS DOUBLE) * 1000000) AS BIGINT)
                         * CAST(ROUND(CAST(bx AS DOUBLE) * 1000000) AS BIGINT))
              FROM (SELECT unnest(ea.embedding) AS ax, unnest(eb.embedding) AS bx)) AS dot
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.query_id
      JOIN embeddings eb ON eb.vec_id = p.cand_id
    ),
    sc AS (
      SELECT query_id, cand_id, dot / (sqrt(qa.n2) * sqrt(qb.n2)) AS cos
      FROM dots JOIN n2 qa ON qa.vec_id = query_id JOIN n2 qb ON qb.vec_id = cand_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
          FROM sc)
    SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank, cos FROM r WHERE rank <= 5
    """,
)
def ann_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full persisted-IVF index LIFECYCLE under the oracle (r4 built
    it as pytest-only tasks; this puts the load-and-probe code on the
    hard gate): train k-means centroids (k=8, 3 Lloyd rounds —
    operators/clustering.py:kmeans_fit, same integer-exact contract as
    kmeans_assign), WRITE centroids + assignments as parquet, RELOAD
    them from disk, and answer the 100 lowest-id queries via
    operators/similarity.py:ivf_probe_persisted (n_probe=2 nearest cells by
    cosine, one mapInPandas corpus pass keyed by the STORED
    assignment). The oracle unrolls the same Lloyd rounds (shared
    _sql_kmeans_ctes) and replays the cosine probe-cell ranking and
    exact per-pair dots; the round-trip through parquet is exactly what
    the production llm-build-ann-index / llm-ann-query task pair does.
    The result is localCheckpoint-ed so it stays valid after the temp
    index dir is deleted (self-contained-results rule)."""
    import tempfile  # noqa: PLC0415

    from ..operators import clustering as cl  # noqa: PLC0415
    from ..sources import stride_lake as lake  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    with tempfile.TemporaryDirectory(prefix="ivf_index_", ignore_cleanup_errors=True) as tmp:
        assign, cents = cl.kmeans_fit(emb, k=8, iters=3)
        lake.overwrite_table(cents, tmp, "centroids")
        lake.overwrite_table(assign, tmp, "assignments")
        res, _meta = sim.ivf_probe_persisted(
            emb,
            lake.read_table(spark, tmp, "centroids"),
            lake.read_table(spark, tmp, "assignments"),
            n_queries=100,
            k_top=5,
            n_probe=2,
        )
        return res.localCheckpoint(eager=True)


# Within-cluster pair scoring tail shared by the two SemDeDup oracles:
# pair dots via zipped parallel unnests of the two row-fetched arrays
# (same shape rule as dedup_embedding_cosine — never self-join the
# exploded comp table on pos).
_SQL_SEMDEDUP_TAIL = """,
    pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM a3 a JOIN a3 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT p.doc_a, p.doc_b,
             (SELECT SUM(CAST(ROUND(CAST(ax AS DOUBLE) * 1000000) AS BIGINT)
                         * CAST(ROUND(CAST(bx AS DOUBLE) * 1000000) AS BIGINT))
              FROM (SELECT unnest(ea.embedding) AS ax, unnest(eb.embedding) AS bx)) AS dot
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.doc_a
      JOIN embeddings eb ON eb.vec_id = p.doc_b
    )
    SELECT doc_a, doc_b, dot / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
    FROM dots JOIN n2 na ON na.vec_id = doc_a JOIN n2 nb ON nb.vec_id = doc_b
    WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.25
    """


@query(
    "semdedup_pairs",
    _sql_kmeans_ctes(k=32, iters=3) + _SQL_SEMDEDUP_TAIL,
)
def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic near-dup pairs scored only within k-means
    clusters (k=32, 3 Lloyd rounds — the same integer-exact trainer as
    kmeans_assign, so the unrolled oracle reproduces the partition
    bit-for-bit). k=32 over this corpus mirrors production practice —
    cluster count grows with the corpus so per-cluster occupancy (and
    the pair count, quadratic in it) stays bounded; k=8 made the sf1
    oracle score ~25M pairs. The 0.25 threshold is tuned to this
    synthetic corpus; the operator shape — trained-partition candidates
    + blocked-matmul scoring — is the SemDeDup pipeline stage."""
    from ..operators import clustering as cl  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    clusters = cl.kmeans_fit(emb, k=32, iters=3)[0]
    return sim.clustered_near_dup_pairs(emb, clusters, threshold=0.25)


@query(
    "semdedup_scaled_pairs",
    _sql_kmeans_ctes(k=None, iters=3) + _SQL_SEMDEDUP_TAIL,
)
def semdedup_scaled_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PRODUCTION k rule under the driver oracle
    (VERDICT r5 item 4): k = ceil(sqrt(N)) instead of a fixed 32, so
    expected per-cluster occupancy is ~sqrt(N) and total pair work is
    Θ(N·sqrt(N)) — the balanced point between the trainer's N·k·dim
    matmuls and the Σ occ² pair scoring, and the reason production
    SemDeDup scales cluster count with the corpus instead of letting
    per-cluster pair counts grow quadratically (semdedup_pairs
    documents that failure mode at its oracle-fixed k=32; it stays
    registered as this query's fixed-k tail twin).

    The corpus count that derives k is the one non-declarative step —
    a control-plane count, same class as the broadcast-guard count in
    dedup_minhash_lsh. The oracle derives the SAME k in-query
    (ceil(sqrt(count)) as the seed-rank bound — _sql_kmeans_ctes
    k=None) and replays the identical integer-exact Lloyd rounds, so
    the trained partition matches bit-for-bit at every corpus size;
    math.isqrt keeps the Spark-side ceil exact (no float sqrt)."""
    import math  # noqa: PLC0415

    from ..operators import clustering as cl  # noqa: PLC0415

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = math.isqrt(n - 1) + 1 if n > 0 else 1  # ceil(sqrt(n)), integer-exact
    clusters = cl.kmeans_fit(emb, k=k, iters=3)[0]
    return sim.clustered_near_dup_pairs(emb, clusters, threshold=0.25)


# ---------------------------------------------------------------------------
# PII redaction audit + incremental dedup against a historical index
# ---------------------------------------------------------------------------

@query(
    "pii_redaction_stats",
    f"""
    WITH src AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 25 = 0
                   THEN text || ' mail: user' || CAST(doc_id AS VARCHAR) || '@ex.org'
                   ELSE text END)
             || (CASE WHEN doc_id % 40 = 0 THEN ' tel 055 123 4567' ELSE '' END)
               AS text
      FROM documents
    )
    SELECT doc_id,
           {", ".join(f"CAST({e} AS BIGINT) AS {c}" for c, e in tx.pii_counts_sql("text").items())},
           CAST(length({tx.redact_pii_sql("text")}) AS BIGINT) AS redacted_len
    FROM src
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII audit + redaction (operators/text.py:redact_pii): per-doc
    email/phone match counts and the post-redaction length — the
    pre-release scrub of a corpus pipeline. Patterns stay in the regex
    subset Java and RE2 agree on, so the oracle counts identically.
    The synthetic corpus plants NO PII, so the query derives it
    deterministically (an email appended for doc_id % 25 == 0, a phone
    for doc_id % 40 == 0, both for % 200) — without the derivation the
    match/substitution branches were vacuous at every sf and the driver
    verdict pinned only zeros (planted-PII behavior was pytest-only,
    tests/test_corpus_stats.py)."""
    d = _docs(spark, sf_dir)
    t = F.concat(
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(
                F.col("text"),
                F.lit(" mail: user"),
                F.col("doc_id").cast("string"),
                F.lit("@ex.org"),
            ),
        ).otherwise(F.col("text")),
        F.when(F.col("doc_id") % 40 == 0, F.lit(" tel 055 123 4567")).otherwise(
            F.lit("")
        ),
    )
    c = tx.pii_counts(t)
    return d.select(
        "doc_id",
        c["n_emails"].cast("long").alias("n_emails"),
        c["n_phones"].cast("long").alias("n_phones"),
        F.length(tx.redact_pii(t)).cast("long").alias("redacted_len"),
    )


@query(
    "dedup_incremental",
    f"""
    WITH fp AS (
      SELECT doc_id, {tx.prefix_fingerprint_sql("text")} AS fingerprint FROM documents
    ),
    hist AS (SELECT fingerprint, MIN(doc_id) AS dup_of FROM fp WHERE doc_id % 4 <> 3
             GROUP BY fingerprint)
    SELECT f.doc_id, h.dup_of
    FROM fp f JOIN hist h ON h.fingerprint = f.fingerprint
    WHERE f.doc_id % 4 = 3
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: a NEW batch (stand-in: doc_id % 4 = 3)
    checked against the historical fingerprint index (everything else)
    — the shape a daily crawl runs, where history is a materialized
    (fingerprint -> keeper) table and the day's batch equi-joins it
    instead of re-deduping the whole corpus. Emits (new doc, historical
    keeper) for every already-seen document.

    A Bloom-pre-filtered variant was TRIED here in r5 and deleted on
    measurement: with the index recomputed from the same corpus scan
    each run, the extra build pass + bitset collect cost 0.42 -> 2.15 s
    at sf0.1 and 1.25 -> 2.63 s at sf10 — and against a 20M-key
    PRE-MATERIALIZED index (the llm-curate-corpus shape) it was 12x
    slower than the plain AQE anti-join too."""
    d = _docs(spark, sf_dir).withColumn(
        "fingerprint", tx.prefix_fingerprint(F.col("text"))
    )
    hist = (
        d.where(F.col("doc_id") % 4 != 3)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return (
        d.where(F.col("doc_id") % 4 == 3)
        .join(hist, on="fingerprint")
        .select("doc_id", "dup_of")
    )


# ---------------------------------------------------------------------------
# Task-layer invariance rows (VERDICT r7 asks #4 and #8): driver-green
# verdicts for the pytest-only LLM task surfaces, following the
# compact_roundtrip_hash pattern — run the REAL task on temp dirs, emit
# analytically-predictable counts + order-insensitive content hashes,
# rmtree everything before returning a self-contained result.
# ---------------------------------------------------------------------------

@query(
    "ingest_replay_idempotence",
    "WITH " + _sql_shingles("documents") + ", " + _SQL_MINHASH + ", " + _SQL_BUCKETS + """,
    idx0 AS (SELECT DISTINCT bucket FROM buckets WHERE doc_id % 2 = 0),
    hit1 AS (
      SELECT DISTINCT b.doc_id FROM buckets b JOIN idx0 i ON i.bucket = b.bucket
      WHERE b.doc_id % 2 = 1
    ),
    admitted AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, text FROM documents d
      WHERE doc_id % 2 = 1
        AND NOT EXISTS (SELECT 1 FROM hit1 h WHERE h.doc_id = d.doc_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_admitted,
           CAST(SUM(""" + row_hash_sql("doc_id", "text") + """) AS BIGINT) AS admit_hash,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_ingested_run1,
           CAST(2 AS BIGINT) AS n_batches_run1,
           CAST(1 AS BIGINT) AS n_batches_replay
    FROM admitted
    """,
)
def ingest_replay_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRASH-REPLAY contract of the continuous-ingest task
    (llm_tasks.py:llm_stream_ingest_dedup), driven end-to-end through
    the REAL recovery path: run the task over two deterministic
    micro-batches (files split by doc_id parity, mtime-ordered so evens
    arrive first), then simulate a crash after the last batch by
    deleting its checkpoint COMMIT (offsets survive — exactly the
    window foreachBatch re-delivers in), and restart the task so
    Structured Streaming replays batch 1 with the same batch id and
    file set. The r7 fix under test (llm_tasks.py:_admit): the replayed
    batch must exclude its own in-flight ``batch=<id>`` index partition
    from the probe — without it the batch's docs hit their OWN buckets,
    novel goes empty, and the overwrite erases the previously-admitted
    rows, which fails this query's value hash. The oracle unrolls the
    two-batch admission analytically: batch 0 (evens) admits all; batch
    1 (odds) admits docs with zero band-bucket collisions against the
    evens' index — the same MinHash/band CTEs as streaming_dedup_lsh.

    Scale shape: per batch one shuffle over the batch's shingles plus a
    bucket equi-join against the index (never all-pairs); replay cost
    is one batch, not the stream. Self-contained: temp base is removed
    before returning (result is localCheckpoint-ed)."""
    import glob as _glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="ingest_replay_", ignore_cleanup_errors=True) as base:
        src = f"{base}/ingest"
        os.makedirs(src)
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        # ONE staging job for both batch files (r9; guide §8): the
        # pre-change per-parity coalesce(1) writes single-threaded the
        # whole documents scan TWICE. repartition(2, _p) hash-routes
        # each parity to exactly one shuffle partition, so partitionBy
        # still yields ONE file per batch (asserted — the batch==file
        # determinism contract); within-file row order changes, which
        # the admission logic and the oracle are insensitive to (batch
        # SETS are unchanged). The staged files' fat row groups are
        # irrelevant to task parallelism since llm_tasks._admit
        # re-spreads each micro-batch (BENCHNOTES r8 #1 / r9 #1).
        stage = f"{base}/stage"
        (
            docs.withColumn("_p", (F.col("doc_id") % 2).cast("int"))
            .repartition(2, "_p")
            .write.mode("overwrite")
            .partitionBy("_p")
            .parquet(stage)
        )
        now = _time.time()
        for part, age_s in ((0, 600), (1, 300)):
            pf = _glob.glob(f"{stage}/_p={part}/part-*.parquet")
            assert len(pf) == 1, f"batch {part} must be one file, got {pf}"
            dstf = f"{src}/b{part}.parquet"
            shutil.move(pf[0], dstf)
            # FileStreamSource orders unseen files by modification time
            # (latestFirst=false): age the files so evens are batch 0.
            os.utime(dstf, (now - age_s, now - age_s))
        m1 = run_task(
            spark, "llm-stream-ingest-dedup", base_dir=base,
            in_dir=src, max_files_per_trigger=1,
        )
        # Crash simulation: drop the LAST batch's commit record. The
        # offset log keeps its exact file set, so the restarted stream
        # re-delivers it to foreachBatch with the same batch id.
        commits = sorted(
            (f for f in os.listdir(f"{base}/ingest_ckpt/commits") if f.isdigit()),
            key=int,
        )
        os.remove(f"{base}/ingest_ckpt/commits/{commits[-1]}")
        # ... and its Hadoop checksum sidecar: a leftover .N.crc makes
        # the restarted query's commit rename fail (surfaces as a bogus
        # "multiple streaming queries" error).
        crc = f"{base}/ingest_ckpt/commits/.{commits[-1]}.crc"
        if os.path.exists(crc):
            os.remove(crc)
        m2 = run_task(
            spark, "llm-stream-ingest-dedup", base_dir=base,
            in_dir=src, max_files_per_trigger=1,
        )
        h = row_hash(F.col("doc_id"), F.col("text"))
        return (
            spark.read.parquet(f"{base}/ingested_documents")
            .agg(
                F.count(F.lit(1)).alias("n_admitted"),
                F.sum(h).alias("admit_hash"),
            )
            .withColumn("n_ingested_run1", F.lit(int(m1["n_ingested"])).cast("long"))
            .withColumn("n_batches_run1", F.lit(int(m1["n_batches"])).cast("long"))
            .withColumn("n_batches_replay", F.lit(int(m2["n_batches"])).cast("long"))
            .localCheckpoint(eager=True)
        )


@query(
    "shard_export_invariance",
    "WITH " + _SQL_TOKENIZE + f""",
    k AS (SELECT doc_id, {_EP0_KEY_SQL} AS _k FROM documents),
    so AS (
      SELECT doc_id, CAST(_k % 8 AS BIGINT) AS shard,
             CAST(row_number() OVER (PARTITION BY _k % 8 ORDER BY _k, doc_id) AS BIGINT) AS pos
      FROM k
    ),
    j AS (
      SELECT so.shard, t.doc_id, so.pos, t.n_tokens, t.n_oov, t.ids_csv
      FROM tok t JOIN so ON t.doc_id = so.doc_id
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({row_hash_sql("doc_id", "pos", "n_tokens", "n_oov", "ids_csv")}) AS BIGINT)
             AS content_hash
    FROM j GROUP BY shard
    """,
)
def shard_export_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SHARD EXPORT invariance (VERDICT r7 ask #8): runs the
    REAL llm-export-training-shards task (vocab build -> tokenize ->
    seeded shard shuffle -> partitioned parquet write) into a temp lake
    and verifies the artifact a training loader would actually read:
    per shard, the row count and the order-insensitive content hash
    over (doc_id, pos, n_tokens, n_oov, ids_csv) must equal the
    analytic prediction composed from the tokenize_vocab_ids and
    training_shard_order oracle contracts (the task's VOCAB_SIZE=100,
    N_SHARDS=8, EPOCH_SEED='ep0'). A lost/duplicated row, a wrong token
    id, or a misassigned shard/pos all fail the value hash; a missing
    shard partition fails the row count.

    Scale shape (the task's): broadcast vocab, one posexplode +
    doc-keyed reassembly, n_shards bounded window partitions, one final
    repartition by shard. Self-contained: temp dir removed before
    returning."""
    import tempfile  # noqa: PLC0415

    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="shard_export_", ignore_cleanup_errors=True) as base:
        _docs(spark, sf_dir).select("doc_id", "text").write.mode("overwrite").parquet(
            f"{base}/documents.parquet"
        )
        run_task(spark, "llm-export-training-shards", base_dir=base)
        out = spark.read.parquet(f"{base}/training_shards/ep0")
        h = row_hash(
            F.col("doc_id"), F.col("pos"), F.col("n_tokens"), F.col("n_oov"), F.col("ids_csv")
        )
        return (
            out.groupBy(F.col("shard").cast("long").alias("shard"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(h).alias("content_hash"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "curate_incremental_noop",
    "WITH " + _sql_curate("documents") + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_final_run1,
           CAST(SUM({row_hash_sql("s.doc_id", "d.text")}) AS BIGINT) AS survivor_hash,
           CAST(0 AS BIGINT) AS n_final_run2,
           CAST(COUNT(*) AS BIGINT) AS n_seen_dropped_run2,
           CAST(COUNT(*) AS BIGINT) AS n_index_fps
    FROM kept s JOIN documents d ON d.doc_id = s.doc_id
    """,
)
def curate_incremental_noop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL-CURATE no-op contract (VERDICT r8 ask #6): the last
    pytest-only data-touching LLM task gets a hard driver verdict. Runs
    the REAL llm-curate-corpus task TWICE over the same staged corpus
    with a shared ``history_dir``: run 1 curates and appends the
    survivors' fingerprints to the seen-index; run 2 must admit ZERO
    documents (every would-be survivor's fingerprint is already
    indexed: n_seen_dropped == n_final_run1, n_final == 0) and must not
    grow the index. The run-1 artifact (what a downstream tokenizer
    reads) is pinned by an order-insensitive (doc_id, text) hash
    against the corpus_clean_keep analytic oracle: the task and the
    corpus_clean_* queries call the same curate kernel
    (operators/curation.py; quality >= QUALITY_MIN_BP, lang in
    CURATE_LANGS, exact-dup min-id keeper, LSH near-dup loser pruning),
    and the oracle reads the same selection off ``_sql_curate``.

    Scale shape (the task's): one map-combined scoring pass, the exact-
    dup fingerprint window, the flattened MinHash-LSH pair plan, and a
    seen-index anti-join that is a plain AQE equi-join on an 8-byte key
    (a Bloom pre-filter was measured 12x slower there and deleted).
    The index grows with unique content, not crawl volume.
    Self-contained: temp base removed before returning."""
    import tempfile  # noqa: PLC0415

    from .tasks import run_task  # noqa: PLC0415

    with tempfile.TemporaryDirectory(prefix="curate_inc_", ignore_cleanup_errors=True) as base:
        # Stage documents PLUS deterministic full-text clones (docs with
        # doc_id % 50 == 1, re-keyed above max_id) so the exact-dup
        # keeper branch does real work: the shared corpus plants only
        # PREFIX duplicates (dedup_exact_groups' 60-char fingerprint),
        # zero full-text fingerprint collisions — without clones the
        # keeper predicate is vacuously true at every sf and this row
        # would pin a branch that never fires. The clones provably leave
        # the survivor set unchanged (every clone loses the min-id
        # keeper race to its original, and as the strictly-higher id it
        # can only ever be the DROPPED side of an LSH pair), so the
        # analytic oracle over `documents` alone still predicts the
        # artifact exactly — by construction, not coincidence.
        d = _docs(spark, sf_dir).select("doc_id", "text")
        max_id = d.agg(F.max("doc_id")).collect()[0][0]  # control-plane scalar
        clones = d.where(F.col("doc_id") % 50 == 1).select(
            (F.col("doc_id") + F.lit(max_id)).alias("doc_id"), "text"
        )
        d.unionByName(clones).write.mode("overwrite").parquet(
            f"{base}/documents.parquet"
        )
        hist = f"{base}/hist"
        run_task(
            spark, "llm-curate-corpus", base_dir=base,
            out_dir=f"{base}/out1", history_dir=hist,
        )
        m2 = run_task(
            spark, "llm-curate-corpus", base_dir=base,
            out_dir=f"{base}/out2", history_dir=hist,
        )
        # exact row count from the parquet footers (no Spark job; falls
        # back to the scan when footers can't answer — r9)
        from ..sources import parquet_stats  # noqa: PLC0415
        from ..sources import stride_lake as lake  # noqa: PLC0415

        n_index = parquet_stats.row_count(lake.table_path(hist, "seen_fingerprints"))
        if n_index is None:
            n_index = lake.read_table(spark, hist, "seen_fingerprints").count()
        out1 = spark.read.parquet(f"{base}/out1")
        h = row_hash(F.col("doc_id"), F.col("text"))
        return (
            out1.agg(
                F.count(F.lit(1)).alias("n_final_run1"),
                F.sum(h).alias("survivor_hash"),
            )
            .withColumn("n_final_run2", F.lit(int(m2["n_final"])).cast("long"))
            .withColumn(
                "n_seen_dropped_run2", F.lit(int(m2["n_seen_dropped"])).cast("long")
            )
            .withColumn("n_index_fps", F.lit(int(n_index)).cast("long"))
            .localCheckpoint(eager=True)
        )

"""Training-data-pipeline operators over ``documents`` and
``embeddings`` (BASELINE.json north star: dedup, similarity search,
text analysis) — each with a DuckDB oracle where SQL-expressible.

Cross-engine determinism strategy:
- tokenization is a plain split on single spaces (the corpus is
  space-joined words), lowercased — byte-identical in both engines;
- every hash is md5 (identical everywhere), never engine-native
  hash() / xxhash;
- MinHash signatures are min(md5(seed || shingle)) — string mins are
  deterministic, so even the LSH *candidate* set is reproducible in
  SQL (unlike Spark ML's randomly-seeded MinHashLSH, which we also
  ship in operators/ for the scale path);
- similarity scores divide exact integer counts, or round(x, 6) when
  float arithmetic is involved.

Scale notes inline. The common pattern for pairwise similarity is the
inverted-index join: explode features, join on feature, aggregate per
pair — shuffle volume is sum of posting-list squares, kept bounded by
LSH banding / label blocking rather than a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_spark.io.readers import parallelize_small_scan, read_table
from big_data_spark.lineage import truncate_lineage
from big_data_spark.queries.relational import fixture_dir
from big_data_spark.session import ensure_executor_package

# Shared tokenizer fragment (Spark) — keep in lockstep with _SQL_TOKENS.
def _tokens(col: str = "text"):
    return F.filter(F.split(F.lower(F.col(col)), " "), lambda t: t != "")


# DuckDB twin of _tokens.
_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"

# Spark-SQL twin of _tokens, for hot paths built as selectExpr strings
# (a single JVM parse instead of hundreds of py4j Column calls).
_SQL_TOKENS_SPARK = "filter(split(lower(text), ' '), t -> t <> '')"

STOPWORDS = (
    "the a an and or of to in is are was for on with as at by it this that".split()
)
_SQL_STOP = "(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"


# --------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------



def _docs(spark: SparkSession, sf_dir: str):
    """documents, spread across cores when the scan is a single tiny
    split (see parallelize_small_scan) — every query here does
    compute-heavy narrow work (md5 per token, shingling) right after
    the scan, which otherwise runs on one core against a
    one-row-group testdata file."""
    return parallelize_small_scan(read_table(spark, sf_dir, "documents"))


def _emb(spark: SparkSession, sf_dir: str):
    """embeddings, with the same small-scan parallelization (the dot
    product / band-bit folds are narrow and CPU-heavy)."""
    return parallelize_small_scan(read_table(spark, sf_dir, "embeddings"))

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one groupBy, map-side combinable.
    At 100 TB this is the cheapest dedup pass — hash locally, shuffle
    only (hash, id) pairs."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keep_doc_id
"""


# --------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats from per-doc token counts — the
    token-counting + quality-signal pass of a data pipeline. Integer
    sums -> exact cross-engine."""
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    per_doc = docs.select(
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).alias("n_stop"),
        F.length("text").alias("n_chars_measured"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_distinct").alias("total_distinct"),
            F.sum("n_stop").alias("total_stopwords"),
            F.max("n_chars_measured").alias("max_chars"),
        )
        .orderBy("lang")
    )


ORACLE_TEXT_STATS = f"""
SELECT lang, COUNT(*) AS n_docs,
       -- CASTs: DuckDB SUM(BIGINT) yields HUGEINT (Spark: BIGINT) and
       -- len()/length() yield BIGINT (Spark size()/length(): INT)
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_distinct) AS BIGINT) AS total_distinct,
       CAST(SUM(n_stop) AS BIGINT) AS total_stopwords,
       CAST(MAX(n_chars_measured) AS INTEGER) AS max_chars
FROM (
  SELECT lang,
         len({_SQL_TOKENS}) AS n_tokens,
         len(list_distinct({_SQL_TOKENS})) AS n_distinct,
         len(list_filter({_SQL_TOKENS}, t -> t IN {_SQL_STOP})) AS n_stop,
         length(text) AS n_chars_measured
  FROM documents
) GROUP BY lang ORDER BY lang
"""


# BPE-ish subword segmentation: vowel runs / consonant runs. A real
# byte-pair vocabulary is corpus-trained state; what a pipeline needs
# first is a deterministic subword COUNT (context-length budgeting,
# tokens-per-byte quality signals), and a run-based split has the same
# shape — multiple pieces per word, identical in Java regex and RE2.
_BPE_RE = "[aeiou]+|[^aeiou ]+"


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (whitespace words + BPE-ish subword
    regex) with the bytes-per-subword ratio used for context budgeting
    and quality cuts. Narrow per-row arithmetic — one pass, no
    shuffle, pushdown-safe at any scale."""
    docs = _docs(spark, sf_dir)
    n_ws = F.size(_tokens())
    n_bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.length("text") / n_bpe, 6).alias("bytes_per_bpe"),
    ).orderBy("doc_id")


ORACLE_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS INTEGER) AS n_bpe_tokens,
       round(CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(lower(text), '{_BPE_RE}')), 6) AS bytes_per_bpe
FROM documents ORDER BY doc_id
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality scoring: length / stopword-ratio / repetition
    heuristics -> keep/flag buckets (the filter stage before training
    ingestion). Ratios are double divisions of identical ints."""
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    per_doc = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).alias("n_stop"),
    )
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    rep_ratio = F.col("n_distinct") / F.col("n_tokens")
    bucket = (
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(stop_ratio > 0.5, "too_stoppy")
        .when(rep_ratio < 0.4, "too_repetitive")
        .otherwise("keep")
    )
    return (
        per_doc.withColumn("quality_bucket", bucket)
        .select("doc_id", "n_tokens", "quality_bucket")
        .orderBy("doc_id")
    )


ORACLE_TEXT_QUALITY = f"""
-- CAST: DuckDB len() yields BIGINT; Spark size() yields INT
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CASE WHEN n_tokens < 20 THEN 'too_short'
            WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.5 THEN 'too_stoppy'
            WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.4 THEN 'too_repetitive'
            ELSE 'keep' END AS quality_bucket
FROM (
  SELECT doc_id,
         len({_SQL_TOKENS}) AS n_tokens,
         len(list_distinct({_SQL_TOKENS})) AS n_distinct,
         len(list_filter({_SQL_TOKENS}, t -> t IN {_SQL_STOP})) AS n_stop
  FROM documents
) ORDER BY doc_id
"""


_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "es": ["el", "la", "de", "los", "que"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "des", "est", "dans"],
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (n-gram-heuristic family): count
    marker hits per language, argmax with a fixed CASE tie-break.
    Purely columnar — no UDF, pushdown-friendly at any scale."""
    docs = _docs(spark, sf_dir)
    toks = _tokens()

    # NB: the lambda must stay single-arg — PySpark treats a two-arg
    # higher-order lambda as (element, index).
    def _score(markers):
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    scored = docs.select(
        "doc_id",
        "lang",
        *[_score(m).alias(f"score_{lang}") for lang, m in _LANG_MARKERS.items()],
    )
    en, es, de, fr = (F.col(f"score_{x}") for x in ("en", "es", "de", "fr"))
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return (
        scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def _sql_marker(lang: str) -> str:
    members = ",".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter({_SQL_TOKENS}, t -> t IN ({members})))"


ORACLE_LANG_ID = f"""
SELECT lang, pred_lang, COUNT(*) AS n_docs FROM (
  SELECT lang,
         CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
              WHEN s_de >= s_fr THEN 'de'
              ELSE 'fr' END AS pred_lang
  FROM (
    SELECT lang,
           {_sql_marker('en')} AS s_en,
           {_sql_marker('es')} AS s_es,
           {_sql_marker('de')} AS s_de,
           {_sql_marker('fr')} AS s_fr
    FROM documents
  )
) GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (document fingerprinting): md5
    of the canonicalized token stream, prefix-truncated to 16 hex
    chars. Groups normalization-equal docs."""
    docs = _docs(spark, sf_dir)
    fp = F.substring(F.md5(F.array_join(_tokens(), " ")), 1, 16)
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("keep_doc_id")
    )


ORACLE_FINGERPRINT = f"""
SELECT substr(md5(array_to_string({_SQL_TOKENS}, ' ')), 1, 16) AS fingerprint,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY keep_doc_id
"""


# --------------------------------------------------------------------
# N-gram Jaccard near-dup (exact, inverted-index join)
# --------------------------------------------------------------------

NGRAM_N = 3
JACCARD_THRESHOLD = 0.2


def _shingles(col: str = "text"):
    """Distinct word NGRAM_N-grams as strings (Spark side)."""
    toks = _tokens(col)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - NGRAM_N, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, NGRAM_N), " "),
    )
    # For docs shorter than NGRAM_N tokens the single slice is the
    # whole doc; that matches the SQL twin below.
    return F.array_distinct(grams)


_SQL_SHINGLES = f"""
list_distinct(list_transform(
  generate_series(1, greatest(len({_SQL_TOKENS}) - {NGRAM_N - 1}, 1)),
  i -> array_to_string(({_SQL_TOKENS})[i:i+{NGRAM_N - 1}], ' ')
))
"""


# Posting lists longer than this are dropped from the exact join: a
# shingle shared by k docs contributes k^2/2 pairs, so one
# stopword-heavy gram in a 100 TB corpus would otherwise dominate the
# whole shuffle. Far above anything at test scale (max posting is 25
# at sf0.1), so test-SF output is unchanged; at scale the recall
# effect is that pairs sharing ONLY ubiquitous grams score lower —
# those are exactly the pairs the MinHash+LSH path handles.
NGRAM_POSTING_CAP = 500


def ngram_jaccard_pairs(
    docs: DataFrame, posting_cap: int = NGRAM_POSTING_CAP
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join:
    explode shingles -> cap hot posting lists -> self-join on shingle
    -> count intersections -> Jaccard from set sizes. No cross join
    anywhere; the posting cap bounds the quadratic blowup of a skewed
    shingle and AQE skew-join covers the remaining imbalance."""
    # Join on an 8-byte xxhash64 of each shingle, not the string:
    # same pairs and counts absent a 2^-64 collision, ~4x less shuffle
    # payload on the posting-list self-join. Round 14 moves the hash
    # INSIDE the gram transform — xxhash64 over the 3-token slice
    # directly — so the per-gram join string (array_join) is never
    # materialized at all and the distinct/explode run over longs
    # instead of ~20-char strings. Token tuples and their joined
    # strings are 1:1 (tokens are split on the join separator), so
    # distinctness, per-doc sizes, posting groups and the cap are all
    # unchanged absent the same 2^-64 collision already accepted.
    # The per-doc set size (an int) rides along on every posting row —
    # +4 bytes/row buys the Jaccard denominator via any_value in the
    # SAME aggregate that counts intersections, eliminating both
    # doc-size joins after the pair groupBy.
    #
    # Checkpoint the EXPLODED+HASHED posting table, not the hash
    # arrays: three consumers read it (hot-shingle count, both join
    # sides), and checkpointing upstream of the explode made each of
    # them redo the tokenize+shingle+hash pass — the single most
    # expensive narrow stage in the query.
    toks = _tokens()
    n_tok = F.size(toks)
    gram_hashes = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_tok - NGRAM_N, F.lit(0))),
            lambda i: F.xxhash64(F.slice(toks, i + 1, NGRAM_N)),
        )
    )
    # Two projections on purpose: size() and explode() both read the
    # MATERIALIZED hash array (the Generate node blocks project
    # collapse), so the gram fold runs once per row, not twice.
    docs_g = docs.select("doc_id", gram_hashes.alias("grams"))
    sh = docs_g.select(
        "doc_id",
        F.size("grams").alias("n_sh"),
        F.explode("grams").alias("shingle"),
    )
    sh = truncate_lineage(sh)
    # Hot-shingle cap: the over-cap set is tiny (it's the stopword
    # grams), so it aggregates map-side and broadcasts into an
    # anti-join — no extra wide shuffle on the posting table.
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("posting_len"))
        .filter(F.col("posting_len") > posting_cap)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.any_value(F.col("a.n_sh")).alias("n_a"),
            F.any_value(F.col("b.n_sh")).alias("n_b"),
        )
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM documents
), capped AS (
  -- mirror of the Spark-side hot-posting cap (NGRAM_POSTING_CAP)
  SELECT * FROM sh WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {NGRAM_POSTING_CAP}
  )
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------
# Deterministic MinHash + LSH banding (reproducible in SQL)
# --------------------------------------------------------------------

MINHASH_SEEDS = tuple(range(6))  # 6 hashes = 3 bands x 2 rows
LSH_BANDS = ((0, 1), (2, 3), (4, 5))
MINHASH_THRESHOLD = 0.2


def minhash_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) for any (doc_id, text) frame — the shared
    shingling step of the batch pair finder AND the incremental
    band-index ingest (streaming/neardup_ingest.py), so the two paths
    can never drift on tokenization."""
    return docs.select("doc_id", _shingles().alias("shingles"))


def minhash_band_rows(docs_sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows from a (doc_id, shingles)
    frame. Deterministic: signature_i = min(md5(i|shingle)), band key
    = hash of its signature pair — no RNG, so the same doc always
    lands in the same buckets across batches.

    The band key is ``xxhash64(h_r0, h_r1)`` — an 8-byte long — not
    the md5 hex string (32 chars ≈ 40+ B per row) it used to be
    (guide §2.3, round 15): the bucket exists only to group equal
    signature pairs, it is never an output, so the narrower key
    shrinks the persisted band index, the checkpoint and every band
    equi-join's build/exchange payload ~4x. Two docs collide iff
    their signature pairs collide under xxhash64 (~2^-64 per pair,
    vs md5's 2^-128) — and a colliding candidate still has to pass
    the exact-Jaccard verify, the same argument as the round-14
    xxhash64 n-gram shingle fold. The SQL oracles keep md5 buckets;
    pair/cluster outputs are checked equal by the oracle gate."""
    # Both projections are ONE selectExpr string each (the simhash
    # construction lesson, applied in round 14): the 6 signature folds
    # plus 3 band structs built Column-by-Column cost ~0.3 s of py4j
    # per construction; a JVM-side parse is milliseconds. Each fold
    # spells exactly what the Column form built — min(md5(seed|s)) —
    # so signatures, buckets and the oracle parity are byte-identical.
    sig = docs_sh.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(shingles, s -> md5(concat('{s_i}|', s)))) "
            f"AS h{s_i}"
            for s_i in MINHASH_SEEDS
        ],
    )
    # One pass per row: all 6 mins once, exploded into 3 band rows —
    # a unionByName of per-band selects would recompute the signature
    # expressions in every branch.
    bands_struct = ", ".join(
        f"named_struct('band', {bi}, 'bucket', xxhash64(h{r0}, h{r1}))"
        for bi, (r0, r1) in enumerate(LSH_BANDS)
    )
    return sig.selectExpr(
        "doc_id", f"explode(array({bands_struct})) AS bb"
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def verify_jaccard_pairs(
    candidates: DataFrame, shingles_a: DataFrame, shingles_b: DataFrame
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs:
    fetch both shingle arrays and intersect (shingles are already
    distinct per doc). Returns (doc_a, doc_b, jaccard) at or above
    MINHASH_THRESHOLD. Only candidate pairs ever pay the verify —
    shared by the batch pair finder and the incremental ingest."""
    arr_a = shingles_a.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    arr_b = shingles_b.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        candidates.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= MINHASH_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash+LSH near-dup pairs over any (doc_id, text) DataFrame
    with *deterministic* hashes: signature_i = min(md5(i|shingle));
    band key = md5 of its signature pair; candidates share >=1 band
    bucket, then exact-Jaccard verified. This is the scale path for
    n-gram dedup — the inverted index runs over O(bands x docs) band
    keys instead of every shingle, and the exact verify touches only
    candidate pairs. (Query twin: q_dedup_minhash_lsh; pipeline
    consumer: pipeline/corpus.py's near-dedup stage.)

    Shuffle budget: signatures are array_min over transform — a narrow
    per-row op, NO explode/groupBy shuffle; the only wide ops are the
    band-bucket self-join and the two candidate->shingle-array joins
    (n_common via array_intersect, not a posting-list join)."""
    # Shingle arrays + signatures are rebuilt by every consumer below
    # (two join sides + verify) and higher-order funcs are codegen
    # fallback, so materialize once: ~#docs rows of small arrays.
    docs_sh = truncate_lineage(minhash_shingles(docs))
    bands = truncate_lineage(minhash_band_rows(docs_sh))
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verify on candidates only (shared kernel).
    return verify_jaccard_pairs(candidates, docs_sh, docs_sh).orderBy(
        "doc_a", "doc_b"
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def _sql_sig() -> str:
    mins = ",\n         ".join(
        f"MIN(md5('{s}|' || shingle)) AS h{s}" for s in MINHASH_SEEDS
    )
    return mins


# The CTE chain up to the verified near-dup PAIR set — shared by the
# pair-emitting oracle (ORACLE_MINHASH) and the cluster-closure oracle
# (ORACLE_DEDUP_CLUSTERS).
_MINHASH_PAIR_CTES = f"""sh AS (
  SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM documents
), sig AS (
  SELECT doc_id,
         {_sql_sig()}
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
), candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM candidates c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT doc_a, doc_b,
         round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= {MINHASH_THRESHOLD}
)"""

ORACLE_MINHASH = f"""
WITH {_MINHASH_PAIR_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs
ORDER BY doc_a, doc_b
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS closed into canonical GROUPS: the step the
    reference's own flow takes after LSH (pair set -> connected
    components -> keep one doc per component,
    /root/reference/Src/dbscan.py:109-117) and the step every
    production dedup pipeline needs — a pair list alone cannot say
    which rows to drop when duplicates chain (a~b, b~c).

    Composition: q_dedup_minhash_lsh's verified pair set feeds
    operators/components.connected_components (one driver union-find
    for a pair list of at most components.SMALL_GRAPH_ROWS rows, the
    pointer-doubling DataFrame loop above); the canonical doc per
    cluster is the minimum doc_id (deterministic keep-first). Scale:
    the pair set is the banded-LSH output (never all-pairs) and the
    component loop is O(log diameter) shuffles over |pairs| edges —
    near-dup clusters are tiny, so convergence is a handful of
    rounds.

    Oracle: DuckDB recursive CTE reachability closure over the SAME
    deterministic pair set."""
    from big_data_spark.operators.components import connected_components

    pairs = truncate_lineage(
        q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        cc.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES},
nodes AS (
  SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs
), uedges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN uedges e ON e.s = r.id
), comp AS (
  SELECT id AS doc_id, MIN(lbl) AS canonical_id FROM reach GROUP BY id
), sized AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY canonical_id
)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       c.doc_id = c.canonical_id AS is_kept
FROM comp c JOIN sized s USING (canonical_id)
ORDER BY doc_id
"""


def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL ingest path certified cross-engine: build a
    fresh near-dup index (streaming/neardup_ingest.py) by feeding the
    documents table in three hash-interleaved batches — so later
    batches bridge clusters rooted in earlier ones, exercising the
    merge-event closure — then emit the resolved clusters in
    dedup_clusters' exact output shape. The oracle is the SAME
    recursive-CTE reachability closure over the batch pair set
    (ORACLE_DEDUP_CLUSTERS): end-state equivalence of incremental and
    batch dedup is the contract, so the two rows share one oracle
    text by design.

    Scale: each batch pays O(batch) shingle/band/verify work plus a
    map-side probe of the stored band index; cluster merges append
    re-rooting events instead of rewriting members (the full story in
    streaming/neardup_ingest.py; per-batch flatness measured in
    PERF.md round 7)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.streaming.neardup_ingest import (
        ingest_neardup_batch,
        read_neardup_clusters,
    )

    idx = fixture_dir("bds_ndinc", sf_dir)
    shutil.rmtree(idx, ignore_errors=True)
    docs = _docs(spark, sf_dir)
    for b in range(3):
        ingest_neardup_batch(
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == b),
            idx,
            b,
        )
    cl = read_neardup_clusters(spark, idx)
    sizes = cl.groupBy("root").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cl.join(sizes, "root")
        # dedup_clusters reports the PAIR GRAPH's nodes; a doc sits in
        # a >=2 cluster iff it appears in some verified pair.
        .filter(F.col("cluster_size") >= 2)
        .select(
            "doc_id",
            F.col("root").alias("canonical_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("root")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# SimHash fingerprints (deterministic, md5-bit-derived)
# --------------------------------------------------------------------

SIMHASH_BITS = 16  # enough to bucket; md5 hex nibbles drive the bits


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint: per token, md5 supplies
    SIMHASH_BITS bits; each bit votes +1/-1; sign of the vote sum is
    the fingerprint bit. Grouped by fingerprint -> near-dup buckets.

    Scale shape: the per-doc bit sums are folded with a single
    higher-order ``aggregate`` over the token array, so there is NO
    explode and NO per-doc groupBy shuffle — fingerprints come out of
    one narrow pass over the scan, and the only shuffle left is the
    tiny per-fingerprint rollup. On 100 TB that turns what used to be
    a full token-level shuffle (tokens x docs rows) into zero exchange
    before the final bucket agg. Bit-sum accumulators are ints in a
    16-element array, so counts are exact for any document below 2^31
    tokens (no packing-field overflow to worry about)."""
    docs = _docs(spark, sf_dir)
    # Parse the first 4 md5 hex chars ONCE into a 16-bit int; each
    # vote is then a shift+mask on that int (hex nibble b//4's bit
    # b%4 sits at position (3 - b//4)*4 + b%4 of the parsed int).
    #
    # The whole hot path is built as TWO selectExpr strings, not a
    # Column tree: the unrolled 16-bit fold is hundreds of expression
    # nodes, and building it py4j-call-by-call costs ~0.4 s of driver
    # time PER query construction (measured at sf0.1) — parsing one
    # SQL string JVM-side is milliseconds. Measured A/Bs for the
    # execution shape itself (interleaved, 7 reps): one projection
    # beats materializing the h16 array into a row between two
    # projections (0.61 vs 0.74 s — the UnsafeRow array write costs
    # more than re-running the tokenizer for size()); a finish-lambda
    # fingerprint and packed-long accumulators were slower still.
    h16s = (
        f"transform({_SQL_TOKENS_SPARK}, "
        "t -> cast(conv(substr(md5(t), 1, 4), 16, 10) as int))"
    )
    # Fold all SIMHASH_BITS per-bit counts in one pass over the array:
    # acc[b] accumulates bit b's set-count across the doc's tokens.
    merge = ", ".join(
        f"(acc[{b}] + (shiftright(h, {(3 - b // 4) * 4 + (b % 4)}) & 1))"
        for b in range(SIMHASH_BITS)
    )
    per_doc = docs.selectExpr(
        "doc_id",
        f"size({_SQL_TOKENS_SPARK}) as n_tok",
        f"aggregate({h16s}, array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> array({merge})) as s",
    ).filter(
        # explode() used to drop token-less docs; keep that contract.
        F.col("n_tok") > 0
    )
    # sum of +1/-1 votes > 0  <=>  2 * (#set bits) > #tokens.
    fp = " + ".join(
        f"(case when s[{b}] * 2 > n_tok then {1 << b} else 0 end)"
        for b in range(SIMHASH_BITS)
    )
    return (
        per_doc.selectExpr("doc_id", f"cast({fp} as bigint) as simhash")
        .groupBy("simhash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("keep_doc_id")
    )


def _sql_simhash() -> str:
    vote_cols = ",\n         ".join(
        f"SUM(CASE WHEN (CAST(('0x' || substr(h, {b // 4 + 1}, 1)) AS INT) & {1 << (b % 4)}) > 0"
        f" THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest({_SQL_TOKENS})) AS h FROM documents
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM tok GROUP BY doc_id
)
SELECT CAST({fp_expr} AS BIGINT) AS simhash,
       MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM votes GROUP BY 1 ORDER BY keep_doc_id
"""


ORACLE_SIMHASH = _sql_simhash()


# --------------------------------------------------------------------
# Embedding similarity (ANN)
# --------------------------------------------------------------------

ANN_K = 5
ANN_QUERY_IDS = (0, 1, 2, 3)
# The synthetic embeddings are isotropic (max pairwise cosine ~0.5 at
# every sf), so a classic 0.9+ near-dup threshold selects nothing;
# 0.4 sits in the top tail (~0.1% of pairs) and keeps the queries'
# outputs non-trivial at every scale factor.
NEARDUP_COSINE = 0.4


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a handful of query vectors: the
    correctness baseline for ANN. The query side is tiny -> broadcast;
    the corpus side streams, so this scales linearly and never
    shuffles the corpus."""
    emb = _emb(spark, sf_dir)
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    queries = F.broadcast(
        emb.filter(F.col("vec_id").isin(*ANN_QUERY_IDS)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm.alias("q_norm"),
        )
    )
    corpus = emb.select("vec_id", "embedding", norm.alias("c_norm"))
    pairs = corpus.crossJoin(queries).filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


_SQL_IDS = ",".join(str(i) for i in ANN_QUERY_IDS)

# Explicit in-order double dot product: matches Spark's aggregate fold.
_SQL_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


ORACLE_EMB_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
  WHERE vec_id IN ({_SQL_IDS})
), scored AS (
  SELECT q.query_id, e.vec_id,
         round({_sql_cosine('q.q_emb', 'e.embedding')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         -- CAST: DuckDB row_number yields BIGINT; Spark row_number yields INT
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked
WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


# Candidate margin below the cosine threshold: the numpy block kernel
# only has to decide MEMBERSHIP to within float64 matmul error
# (~1e-12 here); 1e-4 is orders of magnitude of slack. The exact fold
# re-scores every candidate, so emitted values and the final
# threshold decision are bit-identical to the oracle's.
NEARDUP_MARGIN = 1e-4


# Block-local all-pairs candidate generation lives in
# operators/blockpairs.py (chunked_pair_candidates): the round-8
# chunked form whose applyInPandas group size is bounded BY
# CONSTRUCTION (~2 x BLOCK_ROW_BUDGET rows per task) regardless of
# block population — the round-7 verdict's one `weak` was the
# unchunked kernel materializing an entire cell in one task.


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with label blocking (the
    IVF-style scale path: compare only within a coarse partition;
    here the generator's label is the coarse cell). Blocked pairwise
    is O(sum cell^2), not O(n^2).

    Two-phase plan: (1) a numpy applyInPandas kernel scores each
    block with one BLAS matmul and emits only candidate pairs above
    threshold - margin — the O(sum cell^2) work runs vectorized, not
    as an interpreted per-pair fold; (2) the surviving pairs (tiny:
    the near-dup set plus a hairline margin band) are re-scored with
    the exact aggregate fold, so output values and the >= threshold
    cut match the SQL oracle bit-for-bit. Per-task memory is bounded
    BY CONSTRUCTION: the chunked kernel groups on (label, chunk_i,
    chunk_j) at ~2 x BLOCK_ROW_BUDGET rows per task, so a hot label
    cannot outgrow an executor (operators/blockpairs.py)."""
    from big_data_spark.operators.blockpairs import (
        chunked_pair_candidates,
    )

    ensure_executor_package(spark)
    emb = _emb(spark, sf_dir)
    # total_rows lets the chunk kernel skip its per-block count job
    # when the whole input fits one chunk. The count comes from the
    # parquet FOOTER on the driver when the table is one local file
    # (no Spark job — emb is an unfiltered scan, so footer num_rows
    # IS its count); otherwise the distributed count runs as before.
    from big_data_spark.io.readers import table_footer_rows

    n_emb = table_footer_rows(sf_dir, "embeddings")
    candidates = chunked_pair_candidates(
        emb, ["label"], total_rows=emb.count() if n_emb is None else n_emb
    )
    norm = F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
    va = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        F.col("embedding").alias("emb_a"),
        norm.alias("norm_a"),
    )
    vb = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        norm.alias("norm_b"),
    )
    cosine = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("label", "id_a", "id_b", F.round(cosine, 6).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COSINE)
        .orderBy("id_a", "id_b")
    )


ORACLE_EMB_NEARDUP = f"""
SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       round({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= {NEARDUP_COSINE}
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------
# Hyperplane-LSH ANN (data-derived buckets — no ground-truth label)
# --------------------------------------------------------------------

EMB_DIM = 64
HYPERPLANE_BITS = 8
HYPERPLANE_BANDS = ((0, 4), (4, 8))  # 2 bands x 4 bits: share either half


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (b, j) is
    md5-derived and mapped to [-1, 1]. Computed at plan-build time and
    embedded as literals in BOTH engines, so the bucketing is exactly
    reproducible with no engine-native RNG."""
    import hashlib

    planes = []
    for b in range(HYPERPLANE_BITS):
        row = []
        for j in range(EMB_DIM):
            h = int(hashlib.md5(f"{b}_{j}".encode()).hexdigest()[:8], 16)
            row.append(round(h / float(1 << 31) - 1.0, 9))
        planes.append(row)
    return planes


def q_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection (SimHash-for-vectors) ANN, banded:
    2 bands of 4 hyperplane sign bits; candidate pairs share at least
    one band bucket; exact cosine verify on candidates only. This is
    the *data-derived* scale path — unlike label blocking it needs no
    ground-truth cell id; at 100 TB the band join shuffles
    O(bands x n) rows and banding (not one monolithic bucket) sets
    the recall/cost point."""
    emb = _emb(spark, sf_dir)
    planes = _hyperplanes()

    # The whole banded projection is built as ONE selectExpr string
    # (the simhash/ivf_dists_expr lesson, applied here in round 14):
    # 8 hyperplanes x 64 literal components plus per-bit CASEs is
    # ~600 expression nodes, and building it Column-by-Column cost
    # ~0.7 s of py4j driver time PER query construction (profiled at
    # sf0.1) versus one JVM-side SQL parse. Every fold below spells
    # exactly the zip_with/aggregate shape _dot builds, so the
    # computed doubles — and the oracle parity — are bit-identical.
    def sql_dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    def plane_lit(plane: list[float]) -> str:
        return (
            "array("
            + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in plane)
            + ")"
        )

    def band_bucket(lo: int, hi: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({sql_dot('embedding', plane_lit(planes[b]))}) > 0 "
            f"THEN {1 << (b - lo)} ELSE 0 END)"
            for b in range(lo, hi)
        )

    ensure_executor_package(spark)
    vec = emb.selectExpr(
        "vec_id",
        "embedding",
        f"sqrt({sql_dot('embedding', 'embedding')}) AS norm",
        *[
            f"({band_bucket(lo, hi)}) AS band{bi}"
            for bi, (lo, hi) in enumerate(HYPERPLANE_BANDS)
        ],
    )
    vec = truncate_lineage(vec)
    bands = vec.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"), F.col(f"band{bi}").alias("bucket")
                    )
                    for bi in range(len(HYPERPLANE_BANDS))
                ]
            )
        ).alias("bb"),
    ).select(
        "vec_id",
        "embedding",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    # Score each (band, bucket) block with BLAS matmuls and emit
    # only pairs above threshold - margin: each vector crosses the
    # Arrow boundary once per band instead of once per candidate pair,
    # and the bucket self-join + DISTINCT over the full candidate set
    # disappear — distinct() runs on the tiny near-threshold survivor
    # set (pairs sharing both bands would otherwise double-emit).
    # Chunked grouping bounds a hot bucket's per-task rows.
    from big_data_spark.operators.blockpairs import (
        chunked_pair_candidates,
    )

    # vec is eagerly truncated for two consumers; its count doubles
    # as the materialization job, and bands holds exactly one row per
    # (vector, band) — so the chunk kernel can skip its per-block
    # count job when everything fits one chunk.
    candidates = chunked_pair_candidates(
        bands,
        ["band", "bucket"],
        total_rows=vec.count() * len(HYPERPLANE_BANDS),
    ).distinct()
    va = vec.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    vb = vec.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cosine = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cosine, 6).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COSINE)
        .orderBy("id_a", "id_b")
    )


def _sql_ann_hyperplane() -> str:
    planes = _hyperplanes()

    def plane_list(plane: list[float]) -> str:
        return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in plane) + "]"

    def plane_dot(plane: list[float]) -> str:
        return _SQL_DOT.format(a="embedding", b=plane_list(plane))

    def band_bucket(lo: int, hi: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({plane_dot(planes[b])}) > 0 THEN {1 << (b - lo)} ELSE 0 END)"
            for b in range(lo, hi)
        )

    band_cols = ",\n         ".join(
        f"({band_bucket(lo, hi)}) AS band{bi}"
        for bi, (lo, hi) in enumerate(HYPERPLANE_BANDS)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT vec_id, {bi} AS band, band{bi} AS bucket FROM vec"
        for bi in range(len(HYPERPLANE_BANDS))
    )
    return f"""
WITH vec AS (
  SELECT vec_id, embedding,
         {band_cols}
  FROM embeddings
), bands AS (
  {band_rows}
), candidates AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       round({_sql_cosine('va.embedding', 'vb.embedding')}, 6) AS cosine
FROM candidates c
JOIN embeddings va ON va.vec_id = c.id_a
JOIN embeddings vb ON vb.vec_id = c.id_b
WHERE round({_sql_cosine('va.embedding', 'vb.embedding')}, 6) >= {NEARDUP_COSINE}
ORDER BY id_a, id_b
"""


ORACLE_ANN_HYPERPLANE = _sql_ann_hyperplane()


# --------------------------------------------------------------------
# IVF ANN (trained coarse quantizer, frozen for oracle parity)
# --------------------------------------------------------------------

IVF_N_PROBE = 4
IVF_K = 10


def _ivf_query_vector() -> list[float]:
    """Deterministic md5-derived query vector in [-1, 1]^EMB_DIM —
    same derivation style as _hyperplanes(), embedded as literals in
    both engines."""
    import hashlib

    return [
        round(
            int(hashlib.md5(f"ivfq_{j}".encode()).hexdigest()[:8], 16)
            / float(1 << 31)
            - 1.0,
            9,
        )
        for j in range(EMB_DIM)
    ]


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search with the frozen coarse
    quantizer: assign every vector to its nearest frozen centroid
    (operators.ann.ivf_cell_expr — first-min squared-L2 over the 16
    literal centroids), probe only the IVF_N_PROBE cells closest to
    the query vector, score candidates exactly, top-k by cosine.

    The trained-index path of the ANN trio (brute force = exact
    baseline, hyperplane LSH = no-training path).  Training itself is
    seeded KMeans (operators.ann.ivf_build, pytest-verified, incl.
    full-probe == exact); the centroids are frozen literals
    (operators/ivf_centroids.py) precisely so this search is
    oracle-checkable — engine-native KMeans RNG can never be replayed
    by an ANSI oracle.  Scale: assignment is one narrow pass, the
    probe filter prunes 12/16 of the corpus before any scoring, and
    nothing shuffles — filter + project + top-k."""
    from big_data_spark.operators.ann import (
        _dlit,
        ivf_cell_from_dists,
        ivf_dists_expr,
        ivf_probe_cells,
    )
    from big_data_spark.operators.ivf_centroids import IVF_CENTROIDS

    query = _ivf_query_vector()
    probe = ivf_probe_cells(IVF_CENTROIDS, query, IVF_N_PROBE)
    emb = _emb(spark, sf_dir)
    # Two projections: the 16x64-literal distance fold materializes
    # ONCE as a 16-double array; the argmin then reads the array
    # instead of inlining (and codegen-duplicating) the whole fold.
    assigned = emb.select(
        "vec_id", "embedding", ivf_dists_expr(IVF_CENTROIDS).alias("dists")
    ).select(
        "vec_id", "embedding", ivf_cell_from_dists("dists").alias("cell")
    )
    # Cosine against the query literal, built as one SQL string (the
    # Column-by-Column form costs ~1 s of py4j per construction).
    q_sql = "array(" + ", ".join(_dlit(x) for x in query) + ")"

    def dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    cos = (
        f"round(({dot('embedding', q_sql)}) / "
        f"(sqrt({dot('embedding', 'embedding')}) * sqrt({dot(q_sql, q_sql)})), 6)"
    )
    return (
        assigned.filter(F.col("cell").isin(*[int(p) for p in probe]))
        .selectExpr("vec_id", "cell", f"{cos} AS cosine")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(IVF_K)
    )


def _sql_ann_ivf() -> str:
    from big_data_spark.operators.ann import ivf_probe_cells
    from big_data_spark.operators.ivf_centroids import IVF_CENTROIDS

    query = _ivf_query_vector()
    probe = ivf_probe_cells(IVF_CENTROIDS, query, IVF_N_PROBE)

    def lit_list(xs: list[float]) -> str:
        return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in xs) + "]"

    def sq_dist(c: list[float]) -> str:
        # list_zip pairs the (pre-cast) embedding with the centroid
        # literal positionally, so the summation path is the same
        # index-order double fold as Spark's zip_with aggregate —
        # verified bit-identical to the older generate_series-indexed
        # form, which was ~50x slower in DuckDB (per-centroid
        # generate_series materialization per row made the sf0.01
        # driver-gate row take 31 s).
        cl = lit_list(c)
        return (
            f"list_sum(list_transform(list_zip(ed, {cl}), "
            "s -> (s[1] - s[2]) * (s[1] - s[2])))"
        )

    dists = ",\n           ".join(f"({sq_dist(c)})" for c in IVF_CENTROIDS)
    probe_list = ", ".join(str(int(p)) for p in probe)
    q = lit_list(query)
    return f"""
WITH e2 AS MATERIALIZED (
  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS ed
  FROM embeddings
), assigned AS MATERIALIZED (
  SELECT vec_id, embedding,
         [{dists}] AS dists
  FROM e2
), cells AS (
  SELECT vec_id, embedding,
         CAST(list_indexof(dists, list_min(dists)) - 1 AS INTEGER) AS cell
  FROM assigned
)
SELECT vec_id, cell,
       round({_sql_cosine('embedding', q)}, 6) AS cosine
FROM cells WHERE cell IN ({probe_list})
ORDER BY cosine DESC, vec_id LIMIT {IVF_K}
"""


ORACLE_ANN_IVF = _sql_ann_ivf()


def _ivf_cos_sql() -> str:
    """Spark-SQL cosine of `embedding` against the frozen query
    vector, as one string (shared by the IVF search and the exact
    baseline so recall compares identical scores)."""
    from big_data_spark.operators.ann import _dlit

    query = _ivf_query_vector()
    q_sql = "array(" + ", ".join(_dlit(x) for x in query) + ")"

    def dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    return (
        f"round(({dot('embedding', q_sql)}) / "
        f"(sqrt({dot('embedding', 'embedding')}) * sqrt({dot(q_sql, q_sql)})), 6)"
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against the exact scan, for the same
    frozen query vector — the self-evaluation every ANN deployment
    needs (an index you cannot score is an index you cannot trust).
    Both sides are deterministic (frozen centroids, frozen query,
    tie-broken top-k), so even the QUALITY measurement is
    cross-engine checkable, not just the result sets.

    Scale: the exact side is the linear brute-force scan — this row
    is the periodic audit you run on a sample, not the serving path;
    the IVF side prunes to n_probe/n_cells of the corpus as usual."""
    ivf_ids = q_ann_ivf(spark, sf_dir).select("vec_id")
    exact_ids = (
        _emb(spark, sf_dir)
        .selectExpr("vec_id", f"{_ivf_cos_sql()} AS cosine")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(IVF_K)
        .select("vec_id")
    )
    return (
        ivf_ids.join(exact_ids, "vec_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select(
            F.lit(IVF_K).alias("k"),
            "n_hit",
            F.round(F.col("n_hit") / F.lit(IVF_K), 4).alias("recall"),
        )
    )


def _sql_ann_recall() -> str:
    query = _ivf_query_vector()

    def lit_list(xs: list[float]) -> str:
        return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in xs) + "]"

    q = lit_list(query)
    ivf_select = ORACLE_ANN_IVF.strip()
    return f"""
WITH ivf AS (SELECT vec_id FROM ({ivf_select}) t),
exact AS (
  SELECT vec_id FROM (
    SELECT vec_id, round({_sql_cosine('embedding', q)}, 6) AS cosine
    FROM embeddings
  ) ORDER BY cosine DESC, vec_id LIMIT {IVF_K}
)
SELECT {IVF_K} AS k, COUNT(*) AS n_hit,
       round(COUNT(*) / {float(IVF_K)!r}, 4) AS recall
FROM ivf JOIN exact USING (vec_id)
"""


ORACLE_ANN_RECALL = _sql_ann_recall()


# --------------------------------------------------------------------
# Corpus-cleaning composition (the end-to-end training-data shape)
# --------------------------------------------------------------------


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training data pipeline over ``documents``:

    1. quality filter (keep bucket only — length/stopword/repetition)
    2. exact dedup on content hash (keep min doc_id)
    3. normalization dedup on the token fingerprint (keep min doc_id)
    4. per-language survivor stats

    Each stage is a narrow projection or one map-side-combinable
    aggregation; the whole pipeline is three shuffles at any scale.
    Stage order matters: quality first shrinks the dedup keyspace."""
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    per_doc = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).alias("n_stop"),
    )
    keep = per_doc.filter(
        (F.col("n_tokens") >= 20)
        & (F.col("n_stop") / F.col("n_tokens") <= 0.5)
        & (F.col("n_distinct") / F.col("n_tokens") >= 0.4)
    )
    hashed = keep.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.md5("text").alias("text_hash"),
        F.substring(F.md5(F.array_join(_tokens(), " ")), 1, 16).alias("fp"),
    )
    exact_kept = (
        hashed.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("text_hash").orderBy("doc_id")
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    fp_kept = (
        exact_kept.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return (
        fp_kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


ORACLE_CORPUS_CLEAN = f"""
WITH per_doc AS (
  SELECT doc_id, lang, text,
         len({_SQL_TOKENS}) AS n_tokens,
         len(list_distinct({_SQL_TOKENS})) AS n_distinct,
         len(list_filter({_SQL_TOKENS}, t -> t IN {_SQL_STOP})) AS n_stop
  FROM documents
), keep AS (
  SELECT * FROM per_doc
  WHERE n_tokens >= 20
    AND CAST(n_stop AS DOUBLE) / n_tokens <= 0.5
    AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.4
), hashed AS (
  SELECT doc_id, lang, n_tokens, md5(text) AS text_hash,
         substr(md5(array_to_string({_SQL_TOKENS}, ' ')), 1, 16) AS fp
  FROM keep
), exact_kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rk
    FROM hashed
  ) WHERE rk = 1
), fp_kept AS (
  SELECT * FROM (
    SELECT doc_id, lang, n_tokens, fp,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
    FROM exact_kept
  ) WHERE rk = 1
)
SELECT lang, COUNT(*) AS n_docs,
       -- CAST: DuckDB SUM(BIGINT) yields HUGEINT; Spark yields BIGINT
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc
FROM fp_kept GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------
# Deterministic corpus sampling / data mixing
# --------------------------------------------------------------------

# Per-source mixing rates (a training-data recipe): benchmark-adjacent
# src0 kept whole, a mid tier at 50%, everything else at 10%.
MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.5}
MIX_DEFAULT_RATE = 0.1
_HASH_SPACE = float(1 << 32)


def deterministic_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = MIX_DEFAULT_RATE,
) -> DataFrame:
    """Hash-gated downsampling for corpus mixing: keep a doc iff the
    first 8 md5 hex chars of its doc_id, read as a uint32 fraction,
    fall below its source's rate. No RNG — membership is a pure
    function of doc_id, so reruns, retries, and BOTH engines agree
    row-for-row (engine-native sample()/TABLESAMPLE are seed- and
    partitioning-dependent and can never be oracle-checked). At
    100 TB this is a narrow map-side filter: no shuffle, no state,
    and upstream column pruning still reaches the scan."""
    rates = MIX_RATES if rates is None else rates
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") / F.lit(_HASH_SPACE)
    rate = F.lit(default_rate)
    for src, r in rates.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    return docs.filter(u < rate)


def q_corpus_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the deterministic mixer: kept counts +
    token mass + id checksum (proves exact membership, not just
    counts)."""
    docs = _docs(spark, sf_dir)
    kept = deterministic_sample(docs)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.size(_tokens())).alias("kept_tokens"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("source")
    )


def _sql_mix_rate() -> str:
    branches = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in MIX_RATES.items()
    )
    return f"(CASE {branches} ELSE {MIX_DEFAULT_RATE} END)"


ORACLE_CORPUS_SAMPLE_MIX = f"""
SELECT source, COUNT(*) AS n_kept,
       -- CASTs: DuckDB SUM(BIGINT) yields HUGEINT; Spark yields BIGINT
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS kept_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / {_HASH_SPACE} < {_sql_mix_rate()}
GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------
# Temperature-weighted corpus mixing (rates computed FROM the data)
# --------------------------------------------------------------------

MIX_TEMP_BUDGET_FRAC = 0.5  # sample down to half the corpus tokens


def q_corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixing (the multilingual/multi-source
    upsampling shape): per-source rates are COMPUTED from token
    shares — weight_s = share_s^alpha flattens the distribution so
    small sources keep more of a fixed token budget — then applied
    through the same deterministic md5 gate as corpus_sample_mix.

    Cross-engine float contract: alpha is pinned at 0.5, so the
    power is sqrt — the ONE power IEEE requires exactly rounded,
    identical in the JVM and C libm (an arbitrary alpha would go
    through exp/ln whose last ulp is implementation-defined). The
    cross-source weight sum is a LEFT FOLD over the source-sorted
    weight list in both engines (never a SUM aggregate, whose
    accumulation order is unspecified), so every derived rate is
    bit-identical and the hash-gate comparison can never split.

    Plan: one map-side-combinable token-mass agg (|sources| rows),
    a 1-row fold broadcast back, and the narrow gate filter — the
    corpus-wide pass stays a pure map."""
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(toks)).alias("m")
    )
    w = F.sqrt(F.col("m").cast("double"))
    tot = per_src.agg(
        F.sum("m").alias("corpus_tokens"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("source"), w.alias("w")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("w_total"),
    )
    rated = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "m",
        F.least(
            F.lit(1.0),
            (
                (F.sqrt(F.col("m").cast("double")) / F.col("w_total"))
                * (F.col("corpus_tokens").cast("double") * MIX_TEMP_BUDGET_FRAC)
            )
            / F.col("m").cast("double"),
        ).alias("rate"),
    )
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") / F.lit(_HASH_SPACE)
    kept = docs.join(F.broadcast(rated), "source").filter(u < F.col("rate"))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.size(toks)).alias("kept_tokens"),
            F.sum("doc_id").alias("id_checksum"),
            F.round(F.max("rate"), 6).alias("rate"),
        )
        .orderBy("source")
    )


ORACLE_CORPUS_MIX_TEMPERATURE = f"""
WITH per_src AS (
  SELECT source, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS m
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(m) AS BIGINT) AS corpus_tokens,
         -- LEFT FOLD over the source-sorted weights (mirrors Spark's
         -- aggregate over array_sort(collect_list)); a bare SUM's
         -- accumulation order is unspecified in both engines.
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(sqrt(CAST(m AS DOUBLE)) ORDER BY source)),
           (a, b) -> a + b) AS w_total
  FROM per_src
), rated AS (
  SELECT source, m,
         least(CAST(1.0 AS DOUBLE),
               ((sqrt(CAST(m AS DOUBLE)) / w_total)
                * (CAST(corpus_tokens AS DOUBLE) * {MIX_TEMP_BUDGET_FRAC}))
               / CAST(m AS DOUBLE)) AS rate
  FROM per_src CROSS JOIN tot
)
SELECT d.source, COUNT(*) AS n_kept,
       CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS kept_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       round(MAX(r.rate), 6) AS rate
FROM documents d JOIN rated r USING (source)
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / {_HASH_SPACE} < r.rate
GROUP BY d.source ORDER BY d.source
"""


# --------------------------------------------------------------------
# Decontamination + vocabulary coverage
# --------------------------------------------------------------------

DECON_MIN_SHARED = 5
VOCAB_K = 100


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination check: a training doc is flagged
    when it shares >= DECON_MIN_SHARED distinct shingles with a
    benchmark doc (here: source 'src0' is the held-out benchmark).
    Inverted-index join on hashed shingles — same shuffle shape as
    ngram dedup, but the join is benchmark x train (one small side),
    so at 100 TB the benchmark postings broadcast."""
    docs = _docs(spark, sf_dir)
    docs_sh = truncate_lineage(
        docs.select("doc_id", "source", _shingles().alias("shingles"))
    )
    sh = docs_sh.select(
        "doc_id", "source", F.explode("shingles").alias("shingle_str")
    ).select("doc_id", "source", F.xxhash64("shingle_str").alias("shingle"))
    bench = sh.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    train = sh.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        train.join(bench, "shingle")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
        .orderBy("train_doc", "bench_doc")
    )


ORACLE_DECONTAMINATE = f"""
WITH sh AS (
  SELECT doc_id, source, unnest({_SQL_SHINGLES}) AS shingle FROM documents
)
SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, COUNT(*) AS n_shared
FROM (SELECT * FROM sh WHERE source <> 'src0') t
JOIN (SELECT * FROM sh WHERE source = 'src0') b ON t.shingle = b.shingle
GROUP BY t.doc_id, b.doc_id
HAVING COUNT(*) >= {DECON_MIN_SHARED}
ORDER BY train_doc, bench_doc
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the global top-VOCAB_K token vocab
    (deterministic tie-break), then per language the fraction of token
    occurrences it covers — the token-budget/OOV analysis of a
    tokenizer pipeline. The vocab is tiny -> broadcast join."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("lang", F.explode(_tokens()).alias("token"))
    vocab = F.broadcast(
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(VOCAB_K)
        .select("token")
        .withColumn("in_vocab", F.lit(1))
    )
    return (
        tok.join(vocab, on="token", how="left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(0))).alias("covered_tokens"),
        )
        .withColumn(
            "coverage",
            F.round(F.col("covered_tokens") / F.col("total_tokens"), 6),
        )
        .orderBy("lang")
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH tok AS (
  SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
), vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
    ORDER BY freq DESC, token LIMIT {VOCAB_K}
  )
)
SELECT lang, COUNT(*) AS total_tokens,
       -- CAST: DuckDB SUM(INTEGER) yields HUGEINT; Spark yields BIGINT
       CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS covered_tokens,
       round(CAST(SUM(CASE WHEN token IN (SELECT token FROM vocab) THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS coverage
FROM tok GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------
# Gopher-style repetition quality filter (bigram repetition metrics)
# --------------------------------------------------------------------

# Calibrated on the corpus: ~7% of docs exceed the top-bigram cut,
# ~6% the duplicate-bigram cut — a realistic filter mix, same spirit
# as the published Gopher repetition rules (top n-gram fraction /
# duplicate n-gram fraction over n-gram INSTANCES).
GOPHER_TOP_BIGRAM_MAX = 0.08
GOPHER_DUP_BIGRAM_MAX = 0.15


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per doc, the fraction of
    bigram instances taken by the single most frequent bigram
    (top_bigram_frac) and by all bigrams occurring more than once
    (dup_bigram_frac), bucketed against fixed cuts.

    ZERO-shuffle plan: bigrams are built with zip_with over two
    slices of the token array, then counted by a sorted-run fold
    (array_sort + aggregate with a (prev, run, top, dup) struct
    accumulator) — max run length in the sorted array IS the top
    bigram count, and runs longer than 1 sum to the duplicate
    instance count. One narrow projection per doc; at 100 TB this is
    a pure map pass over the scan with nothing exchanged (vs the
    explode + two-shuffle groupBy shape, which pays sum(doc_len)
    shuffle rows for the same integers). Complements text_quality
    (type-token / stopword cuts) with the repetition dimension."""
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", _tokens().alias("t")).where(F.size("t") >= 2)
    n = F.size("t")
    bigrams = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )

    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("top"),
        F.lit(0).alias("dup"),
    )

    def _step(acc, x):
        same = acc["prev"] == x
        run2 = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        # Closing a run (bigram changed): runs of length > 1 are all
        # duplicate instances.
        dup2 = F.when(same, acc["dup"]).otherwise(
            acc["dup"] + F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.greatest(acc["top"], run2).alias("top"),
            dup2.alias("dup"),
        )

    def _finish(acc):
        # Flush the final run.
        return F.struct(
            acc["top"].alias("top"),
            (
                acc["dup"]
                + F.when(acc["run"] > 1, acc["run"]).otherwise(F.lit(0))
            ).alias("dup"),
        )

    per = base.select(
        "doc_id",
        n.alias("n_tokens"),
        (n - 1).alias("total"),
        F.aggregate(F.array_sort(bigrams), acc0, _step, _finish).alias("s"),
    )
    topf = F.round(F.col("s.top") / F.col("total"), 6)
    dupf = F.round(F.col("s.dup") / F.col("total"), 6)
    bucket = (
        F.when(topf > GOPHER_TOP_BIGRAM_MAX, "rep_top_bigram")
        .when(dupf > GOPHER_DUP_BIGRAM_MAX, "rep_dup_bigram")
        .otherwise("keep")
    )
    return per.select(
        "doc_id",
        "n_tokens",
        topf.alias("top_bigram_frac"),
        dupf.alias("dup_bigram_frac"),
        bucket.alias("gopher_bucket"),
    ).orderBy("doc_id")


# The oracle counts the same integers the long way (unnest + GROUP
# BY): max per-bigram count == max sorted-run length, sum of counts
# > 1 == sum of runs > 1. Different algorithm, same exact integers —
# which is the point of the cross-engine check.
ORACLE_QUALITY_GOPHER = f"""
WITH base AS (
  SELECT doc_id, t, len(t) AS n_tokens FROM (
    SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  ) WHERE len(t) >= 2
), big AS (
  SELECT doc_id, n_tokens,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
  FROM base
), cnts AS (
  SELECT doc_id, n_tokens, bg, COUNT(*) AS c FROM big GROUP BY doc_id, n_tokens, bg
), per AS (
  SELECT doc_id, n_tokens, SUM(c) AS total, MAX(c) AS top,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM cnts GROUP BY doc_id, n_tokens
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round(CAST(top AS DOUBLE) / total, 6) AS top_bigram_frac,
       round(CAST(dup AS DOUBLE) / total, 6) AS dup_bigram_frac,
       CASE WHEN round(CAST(top AS DOUBLE) / total, 6) > {GOPHER_TOP_BIGRAM_MAX}
              THEN 'rep_top_bigram'
            WHEN round(CAST(dup AS DOUBLE) / total, 6) > {GOPHER_DUP_BIGRAM_MAX}
              THEN 'rep_dup_bigram'
            ELSE 'keep' END AS gopher_bucket
FROM per ORDER BY doc_id
"""


# --------------------------------------------------------------------
# Semantic dedup (SemDeDup shape: cluster-blocked embedding near-dups)
# --------------------------------------------------------------------


def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental SEMANTIC dedup path certified cross-engine:
    feed the embeddings table into a fresh frozen-IVF index
    (streaming/semdedup_ingest.py) in three hash-interleaved batches,
    then read the aggregated prune list — q_dedup_semantic's exact
    output shape, against q_dedup_semantic's own frozen-centroid SQL
    oracle (incremental == batch end-state IS the contract, like
    neardup_incremental).

    Scale: per batch, cell assignment is O(batch); the rectangular
    BLAS kernel compares new vectors against TOUCHED cells only
    (|new| x |cell| work, cell-pruned semi-join against the stored
    vector table); prune rows append — nothing is ever rewritten."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.streaming.semdedup_ingest import (
        ingest_semdedup_batch,
        read_semdedup_prune,
    )

    idx = fixture_dir("bds_sdinc", sf_dir)
    shutil.rmtree(idx, ignore_errors=True)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    for b in range(3):
        ingest_semdedup_batch(
            emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(3)) == b),
            idx,
            b,
        )
    return read_semdedup_prune(spark, idx)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: block by LEARNED cluster (the
    frozen IVF coarse quantizer — no ground-truth label, unlike
    embedding_neardup's generator-label blocking), compare pairwise
    within each cell, and DROP every vector that has any lower-id
    cell-mate with cosine >= NEARDUP_COSINE (keep-min-id, the same
    greedy rule as dedup_exact). Output is the prune list: one row
    per dropped vector with its cell, how many earlier near-dup
    neighbors it had, and the strongest of them.

    Plan: (1) frozen-centroid cell assignment — one narrow pass,
    lineage-truncated because three consumers read it; (2) the
    label-free reuse of the neardup BLAS block kernel, chunk-grouped
    by (cell, chunk_i, chunk_j) (O(sum cell^2) vectorized candidates,
    threshold - margin); (3) exact JVM re-score of the tiny candidate
    set so the emitted cosines and the >= cut match the oracle
    bit-for-bit; (4) one groupBy over the dropped ids. At 100 TB the
    per-task group is bounded BY CONSTRUCTION (~2 x BLOCK_ROW_BUDGET
    rows, operators/blockpairs.py) — a hot cell splits into chunk
    pairs instead of landing in one task.
    This is the production semantic-dedup shape — the quantizer is
    trained once on a sample (operators.ann.ivf_build), shipped as
    literals/broadcast, and the corpus-wide pass is cell-local."""
    from big_data_spark.operators.ann import (
        ivf_cell_from_dists,
        ivf_dists_expr,
    )
    from big_data_spark.operators.ivf_centroids import IVF_CENTROIDS

    ensure_executor_package(spark)
    emb = _emb(spark, sf_dir)
    assigned = truncate_lineage(
        emb.select(
            "vec_id", "embedding", ivf_dists_expr(IVF_CENTROIDS).alias("dists")
        ).select(
            "vec_id", "embedding", ivf_cell_from_dists("dists").alias("cell")
        )
    )
    from big_data_spark.operators.blockpairs import (
        chunked_pair_candidates,
    )

    # assigned is lineage-truncated for three consumers; counting it
    # materializes it once (a job the first consumer paid anyway) and
    # lets the chunk kernel skip its per-block count job when the
    # corpus fits one chunk.
    candidates = chunked_pair_candidates(
        assigned, ["cell"], total_rows=assigned.count()
    )
    va = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a")
    )
    vb = assigned.select(
        F.col("vec_id").alias("id_b"), "cell", F.col("embedding").alias("emb_b")
    )
    cosine = F.round(
        _dot(F.col("emb_a"), F.col("emb_b"))
        / (
            F.sqrt(_dot(F.col("emb_a"), F.col("emb_a")))
            * F.sqrt(_dot(F.col("emb_b"), F.col("emb_b")))
        ),
        6,
    )
    pairs = (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_b", "cell", cosine.alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_COSINE)
    )
    return (
        pairs.groupBy("id_b", "cell")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("max_cosine"),
        )
        .select(
            F.col("id_b").alias("vec_id"), "cell", "n_dups", "max_cosine"
        )
        .orderBy("vec_id")
    )


def _sql_dedup_semantic() -> str:
    from big_data_spark.operators.ivf_centroids import IVF_CENTROIDS

    def lit_list(xs: list[float]) -> str:
        return "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in xs) + "]"

    def sq_dist(c: list[float]) -> str:
        cl = lit_list(c)
        return (
            f"list_sum(list_transform(list_zip(ed, {cl}), "
            "s -> (s[1] - s[2]) * (s[1] - s[2])))"
        )

    dists = ",\n           ".join(f"({sq_dist(c)})" for c in IVF_CENTROIDS)
    cos = _sql_cosine("a.embedding", "b.embedding")
    return f"""
WITH e2 AS MATERIALIZED (
  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS ed
  FROM embeddings
), assigned AS MATERIALIZED (
  SELECT vec_id, embedding,
         [{dists}] AS dists
  FROM e2
), cells AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST(list_indexof(dists, list_min(dists)) - 1 AS INTEGER) AS cell
  FROM assigned
)
SELECT b.vec_id AS vec_id, b.cell AS cell, COUNT(*) AS n_dups,
       MAX(round({cos}, 6)) AS max_cosine
FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round({cos}, 6) >= {NEARDUP_COSINE}
GROUP BY b.vec_id, b.cell ORDER BY vec_id
"""


ORACLE_DEDUP_SEMANTIC = _sql_dedup_semantic()


# --------------------------------------------------------------------
# PII scrubbing (functions/pii.py over a derived contact record)
# --------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact emails / IPv4s / long id runs
    with the shared Java-and-RE2-safe patterns (functions/pii.py).

    The corpus tables carry no real PII, so the text under scrub is a
    CRM-export-shaped contact record DERIVED in-query from real
    customer rows (name, key, nation) — both engines derive the same
    string, so the hash compare exercises the actual cross-engine
    regex semantics on varying row data, not a constant. Counts are
    measured on the original text; redaction applies the fixed
    specific-to-loose order. Pure narrow regexp work — no shuffle,
    no Python, pushdown-safe at any scale."""
    from big_data_spark.functions.pii import pii_counts, pii_redact

    cust = read_table(spark, sf_dir, "customer")
    contact = F.concat_ws(
        "",
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.col("c_name")),
        F.lit("@example.com> call (202) 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" acct "),
        (F.col("c_custkey") + 10000000).cast("string"),
        F.lit(" from 10.0."),
        F.col("c_nationkey").cast("string"),
        F.lit(".1"),
    )
    base = cust.select("c_custkey", contact.alias("contact"))
    counts = pii_counts(F.col("contact"))
    return base.select(
        "c_custkey",
        counts["email"].alias("n_emails"),
        counts["phone"].alias("n_phones"),
        counts["ipv4"].alias("n_ipv4"),
        counts["id_number"].alias("n_ids"),
        pii_redact(F.col("contact")).alias("redacted"),
    ).orderBy("c_custkey")


def _sql_pii_scrub() -> str:
    from big_data_spark.functions.pii import sql_pii_counts, sql_pii_redact

    counts = sql_pii_counts("contact")
    return f"""
WITH base AS (
  SELECT c_custkey,
         c_name || ' <' || lower(c_name) || '@example.com> call (202) 555-'
           || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           || ' acct ' || CAST(c_custkey + 10000000 AS VARCHAR)
           || ' from 10.0.' || CAST(c_nationkey AS VARCHAR) || '.1' AS contact
  FROM customer
)
SELECT c_custkey,
       CAST({counts['email']} AS INTEGER) AS n_emails,
       CAST({counts['phone']} AS INTEGER) AS n_phones,
       CAST({counts['ipv4']} AS INTEGER) AS n_ipv4,
       CAST({counts['id_number']} AS INTEGER) AS n_ids,
       {sql_pii_redact('contact')} AS redacted
FROM base ORDER BY c_custkey
"""


ORACLE_PII_SCRUB = _sql_pii_scrub()


# --------------------------------------------------------------------
# Semantic retrieval (ANN hit list joined back to document metadata)
# --------------------------------------------------------------------


def q_semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval: the frozen-quantizer IVF ANN search
    (q_ann_ivf) joined back to the documents table for the metadata a
    retrieval consumer actually reads — language, source, a text
    snippet. The cross-modal join every RAG-style pipeline ends with.

    Plan: the hit list is k rows, so it BROADCASTS and the documents
    scan stays pruned to the join columns; at 100 TB the expensive
    side ran inside the ANN probe (cell-pruned), and this join costs
    one broadcast lookup per hit."""
    hits = q_ann_ivf(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", F.substring("text", 1, 40).alias("snippet")
    )
    return (
        docs.join(F.broadcast(hits), docs.doc_id == hits.vec_id)
        .select("vec_id", "cell", "cosine", "lang", "source", "snippet")
        .orderBy(F.col("cosine").desc(), "vec_id")
    )


# The ANN oracle is a full WITH..SELECT statement; DuckDB accepts it
# verbatim as a parenthesized derived table.
ORACLE_SEMANTIC_SEARCH = f"""
SELECT t.vec_id, t.cell, t.cosine, d.lang, d.source,
       left(d.text, 40) AS snippet
FROM ({ORACLE_ANN_IVF}) t JOIN documents d ON d.doc_id = t.vec_id
ORDER BY t.cosine DESC, t.vec_id
"""


# --------------------------------------------------------------------
# BM25 lexical retrieval (the keyword twin of semantic_search)
# --------------------------------------------------------------------

BM25_QUERY_TERMS = ("table", "scan", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 15


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search for a fixed 3-term query: classic lexical
    retrieval (idf * saturated tf with length normalization), the
    keyword twin of semantic_search's embedding path.

    Cross-engine determinism is the interesting part: a float SUM
    over a group is order-dependent, so per-term scores are built as
    CONDITIONAL-AGG COLUMNS and added in fixed literal order — the
    whole score is one deterministic expression tree both engines
    evaluate identically (only the final score is rounded). Corpus
    stats (N, avgdl, per-term document frequencies) are one 1-row agg
    broadcast back. Plan: term filter pushes into the exploded token
    stream BEFORE the tf groupBy, so the shuffle carries only rows
    for the 3 query terms — at 100 TB this is the inverted-index
    access path: work scales with posting-list sizes, not the corpus.
    """
    docs = _docs(spark, sf_dir)
    toks = _tokens()
    terms = list(BM25_QUERY_TERMS)
    base = docs.select(
        "doc_id", F.size(toks).alias("dl"), toks.alias("t")
    )
    # tf per query term as columns (one narrow pass, no explode —
    # size(filter(...)) counts occurrences inside the array). The
    # lambda comes from a factory: a default-arg lambda would be
    # two-arg, which PySpark reads as (element, index).
    def _eq(trm: str):
        return lambda x: x == F.lit(trm)

    tf = base.select(
        "doc_id",
        "dl",
        *[
            F.size(F.filter("t", _eq(trm))).alias(f"tf_{i}")
            for i, trm in enumerate(terms)
        ],
    )
    # avgdl as exact-int sum / count, NOT avg(): both engines then
    # divide the same exact integers, so the double is bit-identical
    # (engine-internal avg accumulation orders are not).
    stats = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = tf.join(F.broadcast(stats))

    def term_score(i: int):
        tf_i = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        denom = tf_i + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        return idf * (tf_i * (BM25_K1 + 1.0)) / denom

    score = term_score(0) + term_score(1) + term_score(2)
    return (
        scored.select(
            "doc_id",
            F.col("dl").alias("doc_len"),
            F.round(score, 6).alias("bm25"),
        )
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


def _sql_bm25() -> str:
    terms = list(BM25_QUERY_TERMS)
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{trm}')) AS tf_{i}"
        for i, trm in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )

    def term_score(i: int) -> str:
        # CAST everything to DOUBLE before the decimal literals touch
        # it: DuckDB parses 0.5/1.2 as DECIMAL, and HUGEINT + DECIMAL
        # stays exact decimal arithmetic — a different rounding path
        # than Spark's all-double evaluation. With a double first
        # operand every step promotes to double and the trees match.
        n = "CAST(n_docs AS DOUBLE)"
        dfi = f"CAST(df_{i} AS DOUBLE)"
        idf = f"ln(({n} - {dfi} + 0.5) / ({dfi} + 0.5) + 1.0)"
        tf = f"CAST(tf_{i} AS DOUBLE)"
        denom = (
            f"{tf} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} "
            f"* CAST(dl AS DOUBLE) / avgdl)"
        )
        return f"({idf}) * ({tf} * ({BM25_K1} + 1.0)) / ({denom})"

    score = " + ".join(f"({term_score(i)})" for i in range(len(terms)))
    return f"""
WITH tf AS (
  SELECT doc_id, len(t) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         {df_cols}
  FROM tf
)
SELECT doc_id, CAST(dl AS INTEGER) AS doc_len,
       round({score}, 6) AS bm25
FROM tf CROSS JOIN stats
WHERE round({score}, 6) > 0
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
"""


ORACLE_BM25_SEARCH = _sql_bm25()


# --------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + vector search
# --------------------------------------------------------------------

RRF_K = 60
HYBRID_TOPK = 10


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (round 10): fuse the lexical (BM25) and the
    semantic (frozen-IVF ANN) hit lists with reciprocal-rank fusion —
    ``score = Σ 1/(RRF_K + rank)`` — the standard RAG-retrieval
    composition (Cormack et al.'s RRF beats either list alone and
    needs NO score normalization across incomparable scales, which is
    why every production hybrid search ships it). Ranks come from
    each list's own deterministic ordering, so the fused score is a
    sum of two exactly-representable doubles in fixed order — both
    engines emit identical bits.

    Plan/scale: both inputs are ALREADY top-k lists (bounded rows) —
    the single-partition rank windows and the full-outer fusion join
    run over ≤ k rows each regardless of corpus size; the heavy
    lifting happened inside the bounded BM25 posting scan and the
    cell-pruned IVF probe. The metadata join broadcasts the fused
    list."""
    from pyspark.sql import Window

    lex = q_bm25_search(spark, sf_dir).select("doc_id", "bm25")
    sem = q_ann_ivf(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), "cosine"
    )
    # Tiny-list windows: ≤ topk rows, single partition is the point.
    wl = Window.orderBy(F.col("bm25").desc(), "doc_id")
    ws = Window.orderBy(F.col("cosine").desc(), "doc_id")
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("r_lex"))
    semr = sem.select("doc_id", F.row_number().over(ws).alias("r_sem"))
    one = F.lit(1.0)
    fused = (
        lexr.join(semr, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            F.round(
                F.coalesce(one / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(
                    one / (F.lit(RRF_K) + F.col("r_sem")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return (
        docs.join(F.broadcast(fused), "doc_id")
        .select("doc_id", "r_lex", "r_sem", "rrf", "lang", "source")
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(HYBRID_TOPK)
    )


ORACLE_HYBRID_SEARCH = f"""
WITH lex AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
           AS r_lex
  FROM ({ORACLE_BM25_SEARCH})
), sem AS (
  SELECT vec_id AS doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS INTEGER)
           AS r_sem
  FROM ({ORACLE_ANN_IVF})
), fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
         round(COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + l.r_lex), 0.0)
               + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + s.r_sem), 0.0),
               6) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT f.doc_id, f.r_lex, f.r_sem, f.rrf, d.lang, d.source
FROM fused f JOIN documents d ON d.doc_id = f.doc_id
ORDER BY f.rrf DESC, f.doc_id LIMIT {HYBRID_TOPK}
"""


# --------------------------------------------------------------------
# PMI collocations (statistical word association over adjacent pairs)
# --------------------------------------------------------------------

PMI_MIN_PAIR = 20
PMI_TOPK = 20


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document — the quality-filtering
    signal LLM corpus pipelines rank on (boilerplate and gibberish
    score high-perplexity under a corpus-trained LM; cf. the
    heuristic filters in q_text_quality / q_quality_gopher, which
    this complements with a statistical model).

    Model: add-one-smoothed bigram LM trained on the corpus itself —
    p(w|c) = (count(c w) + 1) / (count(c) + V). Per doc:
    avg_nll = mean over positions of -ln p, ppl = exp(avg_nll).

    Determinism: counts are exact integers, each term is a single ln
    of a ratio of exact doubles (the PMI discipline); the only float
    accumulation is the per-doc mean, whose summation-order spread
    (~1e-12) sits far under the 1e-6/1e-3 output rounding.

    Scale: the bigram model is a (bigram, count) table joined on
    8-byte-hashable string keys — never broadcast (at 100 TB it is
    billions of rows); the unigram/context table is vocab-sized and
    AQE decides. One explode + three joins + one per-doc aggregate;
    hot stopword contexts are exactly what AQE skew-split handles."""
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", _tokens().alias("t"))
    n = F.size("t")
    bg_arr = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bge = (
        base.where(n >= 2)
        .select("doc_id", F.explode(bg_arr).alias("bg"))
        .withColumn("ctx", F.substring_index("bg", " ", 1))
    )
    bge = truncate_lineage(bge)
    bgc = bge.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    uni = (
        base.select(F.explode("t").alias("ctx"))
        .groupBy("ctx")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    scored = (
        bge.join(bgc, "bg")
        .join(uni, "ctx")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log(F.col("cu") + F.col("v")) - F.log(F.col("cb") + F.lit(1.0))
            ).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("nll", 6).alias("avg_nll"),
        F.round(F.exp("nll"), 3).alias("ppl"),
    ).orderBy("doc_id")


ORACLE_LM_PERPLEXITY = f"""
WITH base AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
bge AS (
  SELECT doc_id, bg, split_part(bg, ' ', 1) AS ctx FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS bg
    FROM base WHERE len(t) >= 2
  )
),
bgc AS (SELECT bg, COUNT(*) AS cb FROM bge GROUP BY bg),
uni AS (
  SELECT tok AS ctx, COUNT(*) AS cu
  FROM (SELECT unnest(t) AS tok FROM base) GROUP BY tok
),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS vv FROM uni),
scored AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         AVG(ln(cu + (SELECT vv FROM v)) - ln(cb + 1.0)) AS nll
  FROM bge JOIN bgc USING (bg) JOIN uni USING (ctx)
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, round(nll, 6) AS avg_nll, round(exp(nll), 3) AS ppl
FROM scored ORDER BY doc_id
"""


def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    collocation-mining pass (phrase detection, tokenizer-merge
    candidates). PMI = ln(P(a,b) / (P(a) P(b))) with P from exact
    corpus counts.

    Determinism: every product in the PMI ratio multiplies EXACT
    integer counts whose magnitudes stay far under 2^53, so both
    engines form bit-identical doubles before the single ln — no
    order-dependent float accumulation anywhere. Plan: one pair
    groupBy + one unigram groupBy + two joins of the (tiny) unigram
    table onto surviving pairs; the ``cnt_ab >= PMI_MIN_PAIR`` filter
    lands BEFORE the unigram joins, so at 100 TB the join probe side
    is the collocation candidates, not the raw pair stream."""
    docs = _docs(spark, sf_dir)
    base = docs.select(_tokens().alias("t")).where(F.size("t") >= 2)
    n = F.size("t")
    pairs_arr = F.zip_with(
        F.slice("t", 1, n - 1),
        F.slice("t", 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    pairs = (
        base.select(F.explode(pairs_arr).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= PMI_MIN_PAIR)
    )
    uni = (
        base.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = base.agg(
        F.sum(n).cast("bigint").alias("tot_toks"),
        F.sum(n - 1).cast("bigint").alias("tot_pairs"),
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("cnt").alias("cnt_b"))
    joined = (
        pairs.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(totals))
    )
    num = (
        F.col("cnt_ab").cast("double")
        * F.col("tot_toks")
        * F.col("tot_toks")
    )
    den = (
        F.col("tot_pairs").cast("double") * F.col("cnt_a") * F.col("cnt_b")
    )
    return (
        joined.select(
            "a",
            "b",
            "cnt_ab",
            F.round(F.log(num / den), 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(PMI_TOPK)
    )


ORACLE_PMI_COOCCUR = f"""
WITH base AS (
  SELECT t FROM (SELECT {_SQL_TOKENS} AS t FROM documents) WHERE len(t) >= 2
), pairs AS (
  SELECT p['a'] AS a, p['b'] AS b, COUNT(*) AS cnt_ab FROM (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> struct_pack(a := t[i], b := t[i+1]))) AS p
    FROM base
  ) GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_PAIR}
), uni AS (
  SELECT tok, COUNT(*) AS cnt FROM (SELECT unnest(t) AS tok FROM base)
  GROUP BY tok
), totals AS (
  SELECT CAST(SUM(len(t)) AS BIGINT) AS tot_toks,
         CAST(SUM(len(t) - 1) AS BIGINT) AS tot_pairs
  FROM base
)
SELECT p.a, p.b, p.cnt_ab,
       round(ln((CAST(p.cnt_ab AS DOUBLE) * tot_toks * tot_toks)
                / (CAST(tot_pairs AS DOUBLE) * ua.cnt * ub.cnt)), 6) AS pmi
FROM pairs p
JOIN uni ua ON ua.tok = p.a
JOIN uni ub ON ub.tok = p.b
CROSS JOIN totals
ORDER BY pmi DESC, a, b LIMIT {PMI_TOPK}
"""


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def chunk_explode(
    df: DataFrame,
    toks_col: str,
    chunk_tokens: int,
    overlap: int,
    carry_cols: list[str],
) -> DataFrame:
    """THE sliding-window chunking policy, shared by q_doc_chunks
    and pipeline/corpus.prepare_corpus(chunk_tokens=) so the window
    math can never diverge from the DuckDB-oracle-pinned form:
    fixed ``chunk_tokens``-token windows advancing by
    ``chunk_tokens - overlap`` (adjacent chunks share ``overlap``
    tokens), one chunk per short doc, the last window runs short.
    Returns (carry_cols..., chunk_id int, _chunk array<string>) via
    pure JVM HOFs + ONE posexplode — a narrow map."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than "
            f"chunk_tokens ({chunk_tokens})"
        )
    k = (
        F.when(F.size(toks_col) <= chunk_tokens, F.lit(1))
        .otherwise(
            F.ceil(
                (F.size(toks_col) - F.lit(chunk_tokens)) / F.lit(stride)
            )
            + 1
        )
        .cast("int")
    )
    return df.withColumn("_k", k).select(
        *carry_cols,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, _k - 1), i -> "
                f"slice({toks_col}, i * {stride} + 1, {chunk_tokens}))"
            )
        ).alias("chunk_id", "_chunk"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the long-document splitter
    a training pipeline runs before packing: fixed CHUNK_TOKENS-token
    windows advancing by CHUNK_TOKENS - CHUNK_OVERLAP, so adjacent
    chunks share exactly CHUNK_OVERLAP tokens of context (the
    standard overlap trick that keeps boundary sentences learnable).
    One chunk per short doc; the last window may run short rather
    than re-reading beyond the doc.

    Plan: pure JVM higher-order functions — split once, a
    transform(sequence(...)) builds every window as an array slice,
    ONE posexplode emits (doc_id, chunk_id) rows; no Python, no
    shuffle before the final order. At 100 TB this is a narrow map
    whose output is bounded by total tokens / stride.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    chunks = chunk_explode(
        toks, "toks", CHUNK_TOKENS, CHUNK_OVERLAP, ["doc_id"]
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("_chunk").alias("n_tokens"),
        F.md5(F.array_join("_chunk", " ")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_id")


ORACLE_DOC_CHUNKS = f"""
WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), numbered AS (
  SELECT doc_id, toks,
         unnest(range(0,
           CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                ELSE CAST(ceil((len(toks) - {CHUNK_TOKENS})
                          / {_CHUNK_STRIDE}.0) AS BIGINT) + 1 END)) AS i
  FROM arrs
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(len(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                           i * {_CHUNK_STRIDE} + {CHUNK_TOKENS}))
            AS INT) AS n_tokens,
       md5(array_to_string(
           list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                      i * {_CHUNK_STRIDE} + {CHUNK_TOKENS}), ' '))
         AS chunk_md5
FROM numbered
ORDER BY doc_id, chunk_id
"""


SEG_TOKENS = 3


def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document dedup (the C4/Dolma paragraph-dedup shape): carve
    each doc into fixed token windows, drop every window whose exact
    text already occurred earlier in the corpus (first occurrence by
    (doc_id, seg_id) wins), and report the per-doc survivor count +
    an md5 digest of the REASSEMBLED text — proving exact membership
    and order, not just counts. Real corpora segment on newlines /
    sentence bounds; the fixed window stands in because the synthetic
    text has no separators, and the plan is identical either way.

    Plan: segments come from ONE higher-order transform over the
    token array (no per-token explode) then one posexplode of
    segments; first-occurrence is a window over the segment text
    (shuffle keyed on content — the dedup floor); reassembly is an
    ordered collect per doc. At 100 TB the segment window would be an
    8-byte xxhash64 of the text (same plan, narrower shuffle) — kept
    as raw text here so the oracle is engine-portable."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    nseg = F.ceil(F.size(toks) / F.lit(SEG_TOKENS)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(
            F.slice(toks, i * SEG_TOKENS + 1, SEG_TOKENS), " "
        ),
    )
    exploded = docs.select(
        "doc_id", F.posexplode(segs).alias("seg_id", "seg_text")
    )
    w = Window.partitionBy("seg_text").orderBy("doc_id", "seg_id")
    marked = exploded.withColumn(
        "keep", F.row_number().over(w) == 1
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("keep"),
                                    F.struct("seg_id", "seg_text"),
                                )
                            )
                        ),
                        lambda s: s["seg_text"],
                    ),
                    " ",
                )
            ).alias("digest"),
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_SEGMENTS = f"""
WITH arrs AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), numbered AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS BIGINT)))
           AS i
  FROM arrs
), segs AS (
  SELECT doc_id, CAST(i AS INT) AS seg_id,
         array_to_string(
           list_slice(toks, i * {SEG_TOKENS} + 1,
                      i * {SEG_TOKENS} + {SEG_TOKENS}), ' ') AS seg_text
  FROM numbered
), marked AS (
  SELECT doc_id, seg_id, seg_text,
         row_number() OVER (
           PARTITION BY seg_text ORDER BY doc_id, seg_id) = 1 AS keep
  FROM segs
)
SELECT doc_id, COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN keep THEN seg_text END, ' '
                               ORDER BY seg_id), '')) AS digest
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


STRAT_K = 20


def stratified_sample(
    docs: DataFrame, stratum_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sampling: rank rows within
    each stratum by the md5 of their id (hash order == unbiased
    pseudo-random order, but a pure function of the id — reruns and
    both engines pick the SAME rows, which seeded sample()/TABLESAMPLE
    never guarantees across engines or partitionings) and keep rank
    <= k. One shuffle, keyed on the stratum; the quota is exact even
    when a stratum holds fewer than k rows (it keeps them all).

    The companion to rate-based ``deterministic_sample``: use rates
    for proportional mixes, use this when the contract is a fixed
    budget per source/language/label (eval-set carving, per-source
    caps, few-shot pools)."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source quota: 20 docs per source, deterministic hash
    order, with an id checksum proving exact membership."""
    docs = _docs(spark, sf_dir)
    kept = stratified_sample(docs, "source", STRAT_K)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


ORACLE_STRATIFIED_SAMPLE = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
  FROM documents
)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM ranked WHERE r <= {STRAT_K}
GROUP BY source ORDER BY source
"""


PACK_CAPACITY = 8192


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example construction: pack documents end-to-end into
    fixed-budget examples (PACK_CAPACITY chars here; token counts in
    production) by OFFSET BINNING over a DISTRIBUTED global prefix
    sum (operators/prefix.py — range partition, within-partition
    window, driver-side offsets of one row per partition; never the
    single-task global-window plan). Deterministic (doc_id order), so
    the oracle replays the same policy with one SQL window.

    Scale: the only global structure is the per-partition totals
    list — bounded driver metadata; everything else is partitioned
    window + one groupBy."""
    from big_data_spark.operators.prefix import pack_sequences

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    packed = pack_sequences(docs, "n_chars", PACK_CAPACITY, ["doc_id"])
    return packed.select(
        "bin_id",
        "n_docs",
        "total_n_chars",
        F.array_join(
            F.transform("ids", lambda i: i.cast("string")), ","
        ).alias("ids"),
    )


ORACLE_PACK = f"""
WITH pref AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id) - n_chars AS excl
  FROM documents
)
SELECT CAST(excl // {PACK_CAPACITY} AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_n_chars,
       STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
FROM pref
GROUP BY 1
ORDER BY 1
"""


N_EXPORT_SHARDS = 16


def q_shard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export (io/shards.py): documents
    dealt round-robin over their md5-pseudo-shuffled global row
    number — globally shuffled, size-balanced to within one row,
    bit-identical across re-runs. Reported per shard (count + id
    checksum + char total); the oracle replays the identical policy
    with ROW_NUMBER over md5 order, so a drifted assignment (hash
    change, numbering gap, unbalanced deal) hash-mismatches.

    Scale: one range-partitioned sort + the distributed prefix
    numbering (operators/prefix.py) — no single-task window."""
    from big_data_spark.io.shards import shard_assignments

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return (
        shard_assignments(docs, "doc_id", N_EXPORT_SHARDS)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("chars_total"),
        )
        .orderBy("shard")
    )


ORACLE_SHARDS = f"""
WITH numbered AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
  FROM documents
)
SELECT CAST((rn - 1) % {N_EXPORT_SHARDS} AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total
FROM numbered
GROUP BY 1
ORDER BY 1
"""


PPS_EXPECTED_N = 200


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic probability-proportional-to-size sampling
    (operators/sampling.py): keep each document with probability
    min(1, n * n_chars / total_chars) — the weighted downsampler a
    quality-aware corpus mix uses — decided in EXACT decimal/HUGEINT
    integer arithmetic over the md5-uint32 gate, so membership is a
    pure function of doc_id and both engines agree row for row (no
    float anywhere on the keep path; the established float-contract
    discipline, here made trivially safe). Audited per source with
    exact counts/checksums."""
    from big_data_spark.operators.sampling import pps_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    kept = pps_sample(docs, "doc_id", "n_chars", PPS_EXPECTED_N)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
        )
        .orderBy("source")
    )


ORACLE_WEIGHTED_SAMPLE = f"""
WITH tot AS (SELECT SUM(n_chars) AS w FROM documents)
SELECT source, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM documents, tot
WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT) * tot.w
      < CAST(n_chars AS HUGEINT) * {PPS_EXPECTED_N} * 4294967296
GROUP BY source
ORDER BY source
"""


QUERIES = {
    "pack_sequences": q_pack_sequences,
    "shard_summary": q_shard_summary,
    "weighted_sample": q_weighted_sample,
    "dedup_exact": q_dedup_exact,
    "text_stats": q_text_stats,
    "token_counts": q_token_counts,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "neardup_incremental": q_neardup_incremental,
    "simhash": q_simhash,
    "embedding_topk": q_embedding_topk,
    "embedding_neardup": q_embedding_neardup,
    "ann_hyperplane_lsh": q_ann_hyperplane_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_recall": q_ann_recall,
    "corpus_clean": q_corpus_clean,
    "decontaminate": q_decontaminate,
    "vocab_coverage": q_vocab_coverage,
    "corpus_sample_mix": q_corpus_sample_mix,
    "quality_gopher": q_quality_gopher,
    "dedup_semantic": q_dedup_semantic,
    "semdedup_incremental": q_semdedup_incremental,
    "pii_scrub": q_pii_scrub,
    "semantic_search": q_semantic_search,
    "bm25_search": q_bm25_search,
    "hybrid_search": q_hybrid_search,
    "pmi_cooccur": q_pmi_cooccur,
    "lm_perplexity": q_lm_perplexity,
    "corpus_mix_temperature": q_corpus_mix_temperature,
    "stratified_sample": q_stratified_sample,
    "dedup_segments": q_dedup_segments,
    "doc_chunks": q_doc_chunks,
}

ORACLE_SQL = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "text_stats": ORACLE_TEXT_STATS,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "text_quality": ORACLE_TEXT_QUALITY,
    "lang_id": ORACLE_LANG_ID,
    "doc_fingerprint": ORACLE_FINGERPRINT,
    "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_MINHASH,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    # Same oracle text as dedup_clusters ON PURPOSE: incremental ==
    # batch end-state is this row's contract.
    "neardup_incremental": ORACLE_DEDUP_CLUSTERS,
    "simhash": ORACLE_SIMHASH,
    "embedding_topk": ORACLE_EMB_TOPK,
    "embedding_neardup": ORACLE_EMB_NEARDUP,
    "ann_hyperplane_lsh": ORACLE_ANN_HYPERPLANE,
    "ann_ivf": ORACLE_ANN_IVF,
    "ann_recall": ORACLE_ANN_RECALL,
    "corpus_clean": ORACLE_CORPUS_CLEAN,
    "decontaminate": ORACLE_DECONTAMINATE,
    "vocab_coverage": ORACLE_VOCAB_COVERAGE,
    "corpus_sample_mix": ORACLE_CORPUS_SAMPLE_MIX,
    "quality_gopher": ORACLE_QUALITY_GOPHER,
    "dedup_semantic": ORACLE_DEDUP_SEMANTIC,
    # Same oracle text as dedup_semantic ON PURPOSE: incremental ==
    # batch end-state is this row's contract.
    "semdedup_incremental": ORACLE_DEDUP_SEMANTIC,
    "pii_scrub": ORACLE_PII_SCRUB,
    "semantic_search": ORACLE_SEMANTIC_SEARCH,
    "bm25_search": ORACLE_BM25_SEARCH,
    "hybrid_search": ORACLE_HYBRID_SEARCH,
    "pmi_cooccur": ORACLE_PMI_COOCCUR,
    "lm_perplexity": ORACLE_LM_PERPLEXITY,
    "corpus_mix_temperature": ORACLE_CORPUS_MIX_TEMPERATURE,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "dedup_segments": ORACLE_DEDUP_SEGMENTS,
    "doc_chunks": ORACLE_DOC_CHUNKS,
    "pack_sequences": ORACLE_PACK,
    "shard_summary": ORACLE_SHARDS,
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
}

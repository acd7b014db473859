"""Text analysis over the ``documents`` table (north-star extension):
language-ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and content fingerprinting (exact md5 +
min-shingle rolling fingerprint).

All of it is built from JVM-side string/array/lambda expressions —
whole-stage-codegen'd, no Python UDFs — so the per-document cost is a
tight columnar loop that scales linearly to 100 TB of text. Every
query has a DuckDB oracle (the expressions are kept to the dialect
intersection; note DuckDB's ``regexp_replace`` needs the ``'g'`` flag
where Spark replaces globally by default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from ..util import pin, spread
from . import QuerySpec

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "les", "des", "et", "une", "est", "que", "pour", "dans", "sur"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "im", "nicht"],
}

_BPE_RE = "[a-z0-9]+|[^a-z0-9\\s]"


def _tokens(col):
    """Non-empty whitespace tokens of the lowercased text."""
    return F.filter(F.split(F.lower(col), " "), lambda x: x != F.lit(""))


def _tokens_sql(expr: str) -> str:
    return f"list_filter(string_split(lower({expr}), ' '), x -> x <> '')"


def _tokens_sql_spark(expr: str) -> str:
    """Spark-SQL string rendering of :func:`_tokens` — the literal
    SQL form of the same tree (one JVM parse instead of per-node py4j
    calls; the doc_profile/_rag_frames builders inline the identical
    string)."""
    return f"filter(split(lower({expr}), ' '), x -> x != '')"


# --- token counting ----------------------------------------------------

def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (words and
    punctuation as separate tokens — the standard pre-tokenizer
    shape)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    return docs.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
    )


ORACLE_TEXT_TOKENS = f"""
SELECT doc_id,
       len({_tokens_sql('text')}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_measured
FROM documents
"""


# --- quality scoring ---------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals with a
    composite keep/drop flag — the standard pre-training corpus
    filter."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin([w for w in STOPWORDS["en"]])))
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[.,!?;:]", "")
    )
    avg_tok_len = F.round(
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / F.greatest(n_tok, F.lit(1)),
        6,
    )
    stop_ratio = F.round(
        n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 6
    )
    punct_ratio = F.round(
        n_punct.cast("double") / F.greatest(F.length("text"), F.lit(1)), 6
    )
    return docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        (
            (n_tok >= 10)
            & (avg_tok_len >= 2.0)
            & (avg_tok_len <= 12.0)
            & (punct_ratio <= 0.2)
        ).alias("quality_keep"),
    )


_STOP_EN_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"

ORACLE_TEXT_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_tokens_sql('text')} AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x))) AS n_stop,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS tok_chars,
         length(text) AS n_chars
  FROM t
)
SELECT doc_id,
       n_tok AS n_tokens,
       ROUND(CAST(coalesce(tok_chars, 0) AS DOUBLE) / greatest(n_tok, 1), 6) AS avg_token_len,
       ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tok, 1), 6) AS stopword_ratio,
       ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
       (n_tok >= 10
        AND ROUND(CAST(coalesce(tok_chars, 0) AS DOUBLE) / greatest(n_tok, 1), 6) >= 2.0
        AND ROUND(CAST(coalesce(tok_chars, 0) AS DOUBLE) / greatest(n_tok, 1), 6) <= 12.0
        AND ROUND(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1), 6) <= 0.2) AS quality_keep
FROM m
"""


# --- language ID -------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language scores + argmax prediction with fixed
    precedence (en > es > fr > de > unknown) for deterministic ties."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))

    def n_hits(ws):
        # NB: the lambda must be unary — F.filter treats a 2-arg lambda
        # as (element, index), so a default-arg capture would bind the
        # index column instead of the wordlist.
        return F.size(F.filter(toks, lambda x: x.isin(ws))).cast("bigint")

    scores = {lang: n_hits(ws) for lang, ws in STOPWORDS.items()}
    s = {lang: F.col(f"score_{lang}") for lang in STOPWORDS}
    pred = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["de"]) & (s["en"] > 0),
            F.lit("en"),
        )
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["de"]) & (s["es"] > 0), F.lit("es"))
        .when((s["fr"] >= s["de"]) & (s["fr"] > 0), F.lit("fr"))
        .when(s["de"] > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )
    return docs.select(
        "doc_id", *[scores[lang].alias(f"score_{lang}") for lang in STOPWORDS]
    ).select("doc_id", *[f"score_{lang}" for lang in STOPWORDS], pred.alias("lang_pred"))


def _score_sql(lang: str) -> str:
    ws = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter(toks, x -> list_contains({ws}, x)))"


ORACLE_LANG_ID = f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
s AS (
  SELECT doc_id,
         {_score_sql('en')} AS score_en,
         {_score_sql('es')} AS score_es,
         {_score_sql('fr')} AS score_fr,
         {_score_sql('de')} AS score_de
  FROM t
)
SELECT doc_id, score_en, score_es, score_fr, score_de,
       CASE
         WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de
              AND score_en > 0 THEN 'en'
         WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
         WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
         WHEN score_de > 0 THEN 'de'
         ELSE 'unknown'
       END AS lang_pred
FROM s
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION as an operator: the confusion matrix of
    the stopword language-ID against the documents table's `lang`
    labels, with per-cell counts, row (true-label) totals, and recall
    — the quality report you run before trusting a heuristic filter
    at corpus scale (a lang-ID that silently drops one language is a
    curation bug this table makes visible in one glance).

    Reuses `q_lang_id`'s prediction verbatim (same expression tree,
    same precedence), so the eval measures THE shipped classifier.
    One map-side-combining groupBy on the ≤ |langs|² label pairs."""
    pred = q_lang_id(spark, sf_dir).select("doc_id", "lang_pred")
    truth = spread(load_table(spark, "documents", sf_dir)).select("doc_id", "lang")
    cells = (
        truth.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("true_lang"), F.col("lang_pred").alias("pred_lang"))
        .agg(F.count("*").alias("n"))
    )
    row_tot = cells.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return cells.join(F.broadcast(row_tot), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        "n_true",
        F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias("row_frac"),
        (F.col("true_lang") == F.col("pred_lang")).alias("correct"),
    )


ORACLE_LANGID_CONFUSION = f"""
WITH pred AS ({ORACLE_LANG_ID}),
cells AS (
  SELECT d.lang AS true_lang, p.lang_pred AS pred_lang, count(*) AS n
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
  GROUP BY 1, 2
),
row_tot AS (
  SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true FROM cells GROUP BY 1
)
SELECT c.true_lang AS true_lang, pred_lang, n, n_true,
       ROUND(CAST(n AS DOUBLE) / n_true, 6) AS row_frac,
       c.true_lang = pred_lang AS correct
FROM cells c JOIN row_tot r ON c.true_lang = r.true_lang
"""


# --- fingerprinting ----------------------------------------------------

# Char-shingle geometry for the winnowing fingerprint. The chunked
# two-level explode is the same stride identity as chunked_span_table
# (every 8-char window lives in exactly ONE ≤1024-char piece), so the
# window set — and therefore min(md5) — is exactly the naive
# position-first set while (a) md5 runs in whole-stage codegen, not
# an interpreted HOF lambda (the nested-HOF cliff: the lambda form
# measured 74.8 s warm at the 100× replica for what is a narrow map),
# and (b) the explode carries ≤1024 chars per row, not O(len²) bytes.
FP_SHINGLE = 8
FP_CHUNK = 1024


def min_shingle_md5(base: DataFrame, norm_col: str = "norm") -> DataFrame:
    """(doc_id, shingle_fp): minimum md5 over all character 8-gram
    windows of ``norm_col`` — min(md5) is aggregation-friendly, so the
    per-piece explode collapses through a map-side-combining min
    BEFORE the doc_id shuffle. Shared by q_doc_fingerprint and
    doc_profile (round 7 — both previously computed this as an
    interpreted transform() lambda)."""
    stride = FP_CHUNK - FP_SHINGLE + 1
    pieces = F.transform(
        F.sequence(
            F.lit(0),
            F.floor(
                F.greatest(F.length(norm_col) - FP_SHINGLE, F.lit(0)) / stride
            ).cast("int"),
        ),
        lambda c: F.col(norm_col).substr(
            (c * stride + 1).cast("int"), F.lit(FP_CHUNK)
        ),
    )
    # Two-level min (round 12): the single-level form exploded every
    # character window into its own row (~800 rows/doc at the fixture
    # doc length) and fed them all to min(STRING) — whose immutable
    # buffer forces SortAggregate, i.e. a sort of ~4M md5 strings per
    # run at sf0.1 (profiled at ~6 s CPU of doc_profile's warm run).
    # Taking each PIECE's min row-locally first (array_min over the
    # window md5s — min over a partition of the same set, so the
    # final per-doc min is bit-identical) leaves the SortAggregate
    # only 1–2 rows per doc. Same md5 count, no 4M-row Generate
    # fan-out, and the sort input shrinks ~400×.
    piece_min = F.array_min(
        F.transform(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("pc") - FP_SHINGLE + 1, F.lit(1)),
            ),
            lambda i: F.md5(F.col("pc").substr(i, F.lit(FP_SHINGLE))),
        )
    )
    return (
        base.select("doc_id", F.explode(pieces).alias("pc"))
        .select("doc_id", piece_min.alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("shingle_fp"))
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two content fingerprints per doc:
    - ``exact_fp``: md5 of the whitespace-normalized lowercased text
      (exact-dup key);
    - ``shingle_fp``: minimum md5 over all character 8-gram shingles —
      a rolling-hash winnowing fingerprint that is stable under small
      appends/prepends (near-dup key).

    Scale shape (round 7): the shingle minimum comes from the chunked
    codegen explode (min_shingle_md5 above) joined back onto the
    narrow exact_fp projection — value-identical to the old
    transform() lambda (same window set, same md5s), 10× at the 100×
    replica.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    norm = F.regexp_replace(F.lower("text"), "\\s+", " ")
    base = docs.select("doc_id", norm.alias("norm"))
    fps = min_shingle_md5(base)
    return (
        base.select("doc_id", F.md5("norm").alias("exact_fp"))
        # left join: a NULL-norm doc yields no explode rows, so an
        # inner join would silently drop it while the oracle's
        # list_min projection keeps the row with shingle_fp NULL
        # (ADVICE r7). Fixtures never hit this (min doc length 47);
        # pinned by tests/test_empty_inputs.py.
        .join(fps, "doc_id", "left")
        .select("doc_id", "exact_fp", "shingle_fp")
    )


ORACLE_DOC_FINGERPRINT = """
WITH t AS (
  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm FROM documents
)
SELECT doc_id,
       md5(norm) AS exact_fp,
       list_min(list_transform(generate_series(1, greatest(length(norm) - 7, 1)),
                               i -> md5(substr(norm, i, 8)))) AS shingle_fp
FROM t
"""



# --- passage chunking --------------------------------------------------

CHUNK_SIZE = 64
CHUNK_OVERLAP = 16
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window passage chunking (size 64 tokens, overlap 16) —
    the standard pre-training/RAG passage op. Pure JVM: sequence of
    chunk starts + slice + array_join, exploded with the chunk index.
    Scales as a narrow map over documents (no shuffle)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    bound = docs.select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(_STRIDE)
    )
    exploded = bound.select(
        "doc_id", F.size("toks").alias("n_toks"), F.posexplode(starts)
    )
    chunk = F.slice(F.col("toks"), F.col("col"), CHUNK_SIZE)
    return (
        bound.select("doc_id", "toks")
        .join(exploded, "doc_id")
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("chunk_tokens"),
        )
    )


ORACLE_TEXT_CHUNKS = f"""
WITH t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(len(toks), 1), {_STRIDE})) AS s,
         generate_subscripts(generate_series(1, greatest(len(toks), 1), {_STRIDE}), 1) - 1 AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       array_to_string(toks[s:s + {CHUNK_SIZE - 1}], ' ') AS chunk_text,
       CAST(len(toks[s:s + {CHUNK_SIZE - 1}]) AS BIGINT) AS chunk_tokens
FROM starts
""".format(toks=_tokens_sql("text"))



# --- corpus-statistics quality: unigram log-probability ---------------

def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality signal: average unigram log-probability
    per document (low = unusual token mix). Two-pass: corpus unigram
    model (one groupBy), then a model join back onto the token
    stream — left UNHINTED so AQE broadcasts the vocabulary-sized
    model while it fits and falls back to a key-partitioned shuffle
    when the corpus vocabulary outgrows the threshold (a forced
    broadcast would OOM the driver at 100 TB vocabularies). Per-token
    logprobs are rounded to 4 then summed in DECIMAL so the per-doc
    average is cross-engine exact."""
    docs = spread(load_table(spark, "documents", sf_dir))
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    model = vocab.crossJoin(total).select(
        "tok", F.round(F.log(F.col("c") / F.col("t")), 4).alias("lp")
    )
    per_doc = (
        tok.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("lp").cast("decimal(18,4)")).alias("sum_lp"),
        )
        .withColumn("s_e4", (F.col("sum_lp") * 10000).cast("bigint"))
    )
    # avg rounded to 4 dp in EXACT integer arithmetic — the same
    # sign-split form as the bigram twin below: double round(sum/n, 4)
    # splits engines on near-ties (the sf0.1 sweep hit 9 of 5000 docs).
    avg = F.expr(
        "CAST((CASE WHEN s_e4 < 0 THEN -1 ELSE 1 END)"
        " * ((2 * abs(s_e4) + n_tokens) DIV (2 * n_tokens)) AS DOUBLE) / 10000"
    )
    return per_doc.select("doc_id", "n_tokens", avg.alias("avg_logprob"))


ORACLE_TEXT_UNIGRAM_LOGPROB = f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql('text')}) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
model AS (
  SELECT tok, ROUND(ln(c / (SELECT CAST(sum(c) AS DOUBLE) FROM vocab)), 4) AS lp
  FROM vocab
)
SELECT doc_id, n_tokens,
       (CASE WHEN s_e4 < 0 THEN -1 ELSE 1 END)
         * ((2 * abs(s_e4) + n_tokens) // (2 * n_tokens)) / 10000.0 AS avg_logprob
FROM (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(SUM(CAST(lp AS DECIMAL(18,4))) * 10000 AS BIGINT) AS s_e4
  FROM tok JOIN model USING (tok)
  GROUP BY doc_id
)
"""



# --- intra-document repetition ----------------------------------------

def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter signal: fraction of duplicated word trigrams
    inside each document (near-1 ⇒ boilerplate/spam). Distinct vs
    total trigram counts from one shingle pass."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    bound = docs.select("doc_id", tri.alias("tri"))
    n_total = F.size("tri")
    n_distinct = F.size(F.array_distinct("tri"))
    return bound.select(
        "doc_id",
        n_total.cast("bigint").alias("n_trigrams"),
        F.round(
            (n_total - n_distinct).cast("double") / F.greatest(n_total, F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


ORACLE_TEXT_REPETITION = f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
tri AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                        i -> array_to_string(toks[i:i + 2], ' ')) AS tri
  FROM t
)
SELECT doc_id,
       CAST(len(tri) AS BIGINT) AS n_trigrams,
       ROUND(CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
             / greatest(len(tri), 1), 6) AS repetition_ratio
FROM tri
"""



# --- feature-hashed text embeddings -----------------------------------

EMBED_DIM = 64


def _hash_bucket_counts(toks):
    """Per-doc hashing-trick histogram: bucket(t) = int(md5(t)[:2], 16)
    % EMBED_DIM, counts[b] = #tokens in bucket b (as double).

    Each token is hashed ONCE (`buckets` appears a single time in the
    expression tree, so Catalyst cannot duplicate the md5 work), then a
    one-pass ``aggregate`` increments the histogram slot. The naive
    form — ``transform(sequence(0,63), b -> size(filter(toks, md5(t)…
    == b)))`` — recomputes md5 per token per bucket: 64× the hash work
    and a codegen body 64 expressions wide (the dominant cost of the
    cold run)."""
    buckets = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 2), 16, 10).cast("int")
        % EMBED_DIM,
    )
    return F.aggregate(
        buckets,
        F.array_repeat(F.lit(0.0), EMBED_DIM),
        lambda acc, b: F.transform(
            acc, lambda v, i: F.when(i == b, v + F.lit(1.0)).otherwise(v)
        ),
    )


def hash_bucket_counts_expr(toks: str) -> str:
    """Spark-SQL string rendering of :func:`_hash_bucket_counts` —
    identical expression tree, parsed JVM-side in one py4j call
    (round 12: the Column-API lambda chain cost ~0.14 s of py4j
    round trips per build, and the RAG frame builder renders it three
    times per run). CASE WHEN, not if(): the Column form's F.when
    parses to CaseWhen, and the sameSemantics pin requires the exact
    same expression class (doc_profile's inline `counts` string uses
    if() — value-identical, different tree)."""
    return (
        f"aggregate(transform({toks}, t -> cast(conv(substring(md5(t), 1, 2),"
        f" 16, 10) as int) % {EMBED_DIM}), array_repeat(0.0D, {EMBED_DIM}), "
        "(acc, b) -> transform(acc, (v, i) -> "
        "CASE WHEN i = b THEN v + 1.0D ELSE v END))"
    )


def q_text_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words embeddings: each token maps to one
    of 64 buckets via its md5 prefix; the doc vector is the
    L2-normalized bucket-count histogram. Deterministic, no ML libs —
    the portable baseline text-embedding generator feeding the ANN
    operators (same array<float>-style shape as the embeddings
    table).

    Driver surface: the vector is emitted as a fixed-format CSV string
    (``%.6f`` per component) — the driver's pandas canonicalization
    cannot sort/hash list cells (CORRECTNESS_r01 ``unhashable type:
    'list'``), and a deterministic scalar rendering hash-compares
    cleanly on both engines. Consumers that want the array shape use
    ``split(embedding_csv, ',').cast('array<double>')``."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    bound = docs.select("doc_id", toks.alias("toks"))
    counts = _hash_bucket_counts(F.col("toks"))
    norm = F.sqrt(
        F.aggregate(F.col("counts"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return (
        bound.select("doc_id", counts.alias("counts"))
        .select(
            "doc_id",
            F.concat_ws(
                ",",
                F.transform(
                    F.col("counts"),
                    lambda x: F.format_string(
                        "%.6f", F.round(x / F.greatest(norm, F.lit(1e-12)), 6)
                    ),
                ),
            ).alias("embedding_csv"),
        )
    )


ORACLE_TEXT_HASH_EMBEDDINGS = f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
c AS (
  SELECT doc_id,
         list_transform(generate_series(0, {EMBED_DIM - 1}),
           b -> CAST(len(list_filter(toks,
                  tok -> ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
                        % {EMBED_DIM} = b)) AS DOUBLE)) AS counts
  FROM t
),
n AS (
  SELECT doc_id, counts,
         sqrt(list_aggregate(list_transform(counts, x -> x * x), 'sum')) AS nrm
  FROM c
)
SELECT doc_id,
       array_to_string(
         list_transform(counts,
           x -> printf('%.6f', ROUND(x / greatest(nrm, 1e-12), 6))),
         ',') AS embedding_csv
FROM n
"""


# --- bigram LM quality score -------------------------------------------

def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality signal: per-doc average log P(w2|w1) under
    the corpus MLE bigram model (the 2-gram sibling of
    ``q_text_unigram_logprob`` — low scores flag word-salad docs that
    unigram frequencies alone cannot). Every doc's bigrams are in the
    corpus model by construction, so no smoothing is needed; per-
    bigram logprobs are rounded to 4 then summed in DECIMAL so the
    average is cross-engine exact. Docs with fewer than 2 tokens have
    no bigram and are excluded.

    Same two-pass scale shape as the unigram model: bigram counts and
    first-word totals are map-side-combining aggregations; the model
    joins back broadcast when it fits, shuffle otherwise."""
    from ..operators.dedup import word_shingles

    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    big = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2
    ).select("doc_id", F.explode(word_shingles(F.col("toks"), 2)).alias("bg"))
    big = big.withColumn("w1", F.substring_index("bg", " ", 1))
    c_big = big.groupBy("bg", "w1").agg(F.count("*").alias("cb"))
    c_w1 = c_big.groupBy("w1").agg(F.sum("cb").alias("cw"))
    model = c_big.join(c_w1, "w1").select(
        "bg", F.round(F.log(F.col("cb") / F.col("cw")), 4).alias("lp")
    )
    per = (
        big.join(model, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("lp").cast("decimal(18,4)")).alias("sum_lp"),
        )
        .withColumn("s_e4", (F.col("sum_lp") * 10000).cast("bigint"))
    )
    # avg rounded to 4 dp in EXACT integer arithmetic: double
    # `round(sum/n, 4)` splits engines on near-ties (Spark rounds the
    # exact binary value, DuckDB rounds x*1e4/1e4) — sf0.01 hit one.
    avg = F.expr(
        "CAST((CASE WHEN s_e4 < 0 THEN -1 ELSE 1 END)"
        " * ((2 * abs(s_e4) + n_bigrams) DIV (2 * n_bigrams)) AS DOUBLE) / 10000"
    )
    return per.select("doc_id", "n_bigrams", avg.alias("avg_logprob"))


ORACLE_TEXT_BIGRAM_LOGPROB = f"""
WITH t AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM t WHERE len(toks) >= 2
),
c_big AS (
  SELECT bg, split_part(bg, ' ', 1) AS w1, count(*) AS cb
  FROM big GROUP BY bg
),
c_w1 AS (SELECT w1, sum(cb) AS cw FROM c_big GROUP BY w1),
model AS (
  SELECT bg, ROUND(ln(cb / CAST(cw AS DOUBLE)), 4) AS lp
  FROM c_big JOIN c_w1 USING (w1)
)
SELECT doc_id, n_bigrams,
       (CASE WHEN s_e4 < 0 THEN -1 ELSE 1 END)
         * ((2 * abs(s_e4) + n_bigrams) // (2 * n_bigrams)) / 10000.0 AS avg_logprob
FROM (
  SELECT doc_id, count(*) AS n_bigrams,
         CAST(SUM(CAST(lp AS DECIMAL(18,4))) * 10000 AS BIGINT) AS s_e4
  FROM big JOIN model USING (bg)
  GROUP BY doc_id
)
"""


# --- TF-IDF top terms --------------------------------------------------

TFIDF_TOP_K = 3


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K characteristic terms per document by TF-IDF: tf(doc, tok)
    from one explode+groupBy, df(tok) and the corpus doc count N from
    a second aggregation, idf = ln(N / df) rounded to 6, and the
    per-doc top K by (tfidf desc, tok) — rounding FIRST and breaking
    ties on the term keeps Spark's and DuckDB's selections identical
    despite last-ulp ``ln`` differences.

    Scale: tf and df are both map-side-combining aggregations; the idf
    model joins back on ``tok`` (broadcast when the vocabulary fits,
    shuffle-join otherwise — vocabularies grow sublinearly in corpus
    size, so at 100 TB this is a bounded dimension join, not a fact-
    fact join); the final top-K is one window per doc_id."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, "documents", sf_dir))
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf = df.crossJoin(F.broadcast(n_docs)).select(
        "tok", F.round(F.log(F.col("n_docs") / F.col("df")), 6).alias("idf")
    )
    scored = tf.join(idf, "tok").select(
        "doc_id",
        "tok",
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", F.col("rk").cast("bigint").alias("rk"), "tok", "tf", "tfidf")
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql('text')}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
idf AS (
  SELECT tok, ROUND(ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / count(*)), 6) AS idf
  FROM tf GROUP BY tok
),
scored AS (
  SELECT doc_id, tok, tf, ROUND(tf * idf, 6) AS tfidf
  FROM tf JOIN idf USING (tok)
)
SELECT doc_id, rk, tok, tf, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
  FROM scored
) WHERE rk <= {TFIDF_TOP_K}
"""


# --- BM25 retrieval ----------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "window", "filter")
BM25_TOP_K = 10


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-K document retrieval for a fixed query term
    set — the lexical ranking half of a curation/retrieval stack
    (e.g. sourcing in-domain documents for a training mix).

    Cross-engine determinism follows the tf-idf recipe: idf
    (ln form, Lucene's 1+ variant so it is always positive) is
    rounded to 6 BEFORE use, each per-term contribution is rounded to
    6, and the per-doc score is summed in DECIMAL(18,6) — exact and
    association-free — with (score desc, doc_id) ranking. All other
    arithmetic is IEEE +,*,/ in the identical textual order on both
    engines.

    Scale: tf and dl are map-side-combining aggregations over the
    exploded tokens; df/avgdl/N are tiny (|query|- and 1-row) frames
    broadcast back; the final top-K is one window over matched docs.
    Nothing is ever joined fact-to-fact on the token stream."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, "documents", sf_dir))
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tf = (
        tok.filter(F.col("tok").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "tok",
        F.round(
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)), 6
        ).alias("idf"),
    )
    w_term = F.round(
        F.col("idf")
        * (
            (F.col("tf") * F.lit(BM25_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                )
            )
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", w_term.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("w").cast("decimal(18,6)")).cast("double").alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    # orderBy+limit compiles to TakeOrdered (per-partition partial
    # top-N + an N-row merge) — never a global sort of the scored
    # document frame; the rank window then sees only BM25_TOP_K rows.
    topk = scored.orderBy(F.desc("score"), "doc_id").limit(BM25_TOP_K)
    rk_w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        topk.withColumn("rk", F.row_number().over(rk_w).cast("bigint"))
        .select("rk", "doc_id", "score", "n_terms")
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

ORACLE_BM25_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql('text')}) AS tok FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM tok
  WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok
),
idf AS (
  SELECT tok,
         ROUND(ln(1.0 + ((SELECT count(*) FROM documents) - count(*) + 0.5)
                        / (count(*) + 0.5)), 6) AS idf
  FROM tf GROUP BY tok
),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(ROUND(idf * ((tf * CAST({BM25_K1 + 1.0} AS DOUBLE)) / (tf + {BM25_K1}
                * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl))), 6)
              AS DECIMAL(18,6))) AS DOUBLE) AS score,
         count(*) AS n_terms
  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT rk, doc_id, score, n_terms FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM scored
) WHERE rk <= {BM25_TOP_K}
"""


# --- boilerplate block detection ----------------------------------------

BP_BLOCK = 32  # non-overlapping token blocks (overlap would self-match)


def q_boilerplate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection at block grain: split each
    doc into non-overlapping 32-token blocks, md5 each block, and
    flag blocks whose hash appears in ≥ 2 DISTINCT documents (headers,
    footers, license banners — the C4-style line/paragraph dedup at
    block granularity). Output per doc: block count, boilerplate block
    count, ratio.

    Scale: blocks are a narrow map; the only shuffles carry 32-hex
    hashes (groupBy hash with map-side combine, then the join back) —
    the exact-dedup shape applied below document grain. The planted
    near-duplicate docs share full blocks, so the result is
    non-trivial."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(BP_BLOCK))
    blk = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(starts).alias("st"), F.col("toks"))
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice(F.col("toks"), F.col("st"), BP_BLOCK), " ")).alias("h"),
        )
    )
    hot = (
        blk.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    return (
        blk.join(hot, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.count("nd").alias("n_boilerplate"),
            F.round(F.count("nd").cast("double") / F.count("*"), 6).alias("bp_ratio"),
        )
    )


ORACLE_BOILERPLATE_BLOCKS = f"""
WITH t AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
blk AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, st, st + {BP_BLOCK} - 1), ' ')) AS h
  FROM (
    SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks), 1) + 1, {BP_BLOCK})) AS st
    FROM t
  )
),
hot AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM blk GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT doc_id, count(*) AS n_blocks,
       count(nd) AS n_boilerplate,
       ROUND(CAST(count(nd) AS DOUBLE) / count(*), 6) AS bp_ratio
FROM blk LEFT JOIN hot USING (h)
GROUP BY doc_id
"""


# --- character entropy (gibberish detector) -----------------------------

def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the standard
    gibberish/binary-blob detector (natural text sits ~2.5-4.5 bits;
    random bytes ≈ 8, constant runs ≈ 0). One explode to (doc, char)
    + a map-side-combining count — the flat-map + combine shape that
    scales like token counting.

    Determinism recipe as the LM queries: each character's
    -p·log2(p) term is rounded to 6 (p is an exact integer ratio, the
    log the only libm call) and the per-doc sum runs in
    DECIMAL(18,6) — exact and order-free."""
    docs = spread(load_table(spark, "documents", sf_dir))
    chars = docs.select(
        "doc_id",
        F.explode(F.split("text", "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("n"))
    # ln(p)/ln(2) spelled out on BOTH engines (not log2/F.log(base,·))
    # so the bits-conversion is the identical pair of libm calls +
    # IEEE divide, not two different log2 implementations.
    p = F.col("c") / F.col("n")
    term = F.round(-p * (F.log(p) / F.log(F.lit(2.0))), 6)
    return (
        counts.join(totals, "doc_id")
        .select("doc_id", term.alias("t"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("t").cast("decimal(18,6)")).cast("double").alias("entropy_bits"))
    )


ORACLE_TEXT_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars WHERE ch <> '' GROUP BY doc_id, ch
),
totals AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY doc_id)
SELECT doc_id,
       CAST(SUM(CAST(ROUND(-(c / CAST(n AS DOUBLE))
            * (ln(c / CAST(n AS DOUBLE)) / ln(2.0)), 6)
            AS DECIMAL(18,6))) AS DOUBLE) AS entropy_bits
FROM counts JOIN totals USING (doc_id)
GROUP BY doc_id
"""


# --- per-source reputation (domain-level curation) -----------------------

def q_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source-level curation rollup: per source, document count,
    mean quality signals and language spread — the aggregation behind
    "drop domains whose mean quality < τ" filtering. Per-doc signals
    are rounded to 6 first and averaged with the exact half-away
    integer-mean trick (2S+n over e6 integers), so the means are
    engine-exact despite being averages of doubles. One map-side-
    combining groupBy on source — a tiny result at any corpus size."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin([w for w in STOPWORDS["en"]])))
    # e6 fixed-point of the ratio via explicit half-away floor — the
    # same IEEE ops on both engines (round()*1e6 could land a hair
    # under the integer and truncate differently).
    stop_e6 = F.floor(
        n_stop.cast("double") / F.greatest(n_tok, F.lit(1)) * 1_000_000 + F.lit(0.5)
    )
    per_doc = docs.select(
        "source",
        "lang",
        n_tok.cast("bigint").alias("n_tok"),
        stop_e6.cast("bigint").alias("stop_e6"),
    )
    mean_stop = F.expr(
        "(2 * sum(stop_e6) + count(*)) DIV (2 * count(*))"
    ) / 1_000_000
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        mean_stop.alias("mean_stopword_ratio"),
    )


ORACLE_SOURCE_REPUTATION = f"""
WITH per_doc AS (
  SELECT source, lang,
         len(toks) AS n_tok,
         CAST(floor(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x))) AS DOUBLE)
              / greatest(len(toks), 1) * 1000000 + 0.5) AS BIGINT) AS stop_e6
  FROM (SELECT source, lang, {_tokens_sql('text')} AS toks FROM documents)
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       count(DISTINCT lang) AS n_langs,
       ((2 * sum(stop_e6) + count(*)) // (2 * count(*))) / 1000000.0
         AS mean_stopword_ratio
FROM per_doc GROUP BY source
"""


# --- count-min sketch --------------------------------------------------

CMS_DEPTH = 4   # independent hash rows (md5 seeds)
CMS_WIDTH = 16  # buckets per row = one hex char (31-word fixture vocab
                # -> real collisions, so the overestimate is visible)
CMS_TERMS = ("spark", "join", "window", "filter", "data", "zzznotaword")


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term-frequency estimation: the mergeable
    distributed summary (Cormode & Muthukrishnan 2005). Each token
    increments one bucket per hash row (bucket = first hex char of a
    seeded md5 — a deliberately tight 4×16 sketch so the fixture's
    31-word vocabulary actually collides); a term's estimate is
    the min over its rows, an overestimate by construction
    (collisions only add). The planted non-word shows the
    overestimate: true 0, estimate = its buckets' collision mass.

    Unlike approx_count_distinct/percentile sketches (rows-only
    checks), CMS is DETERMINISTIC given its hash family, so the
    DuckDB oracle rebuilds the identical sketch and the comparison is
    hash-exact.

    Scale: the sketch build is ONE map-side-combining groupBy whose
    result is depth×width rows regardless of corpus size — the
    summary you ship to a driver/dashboard instead of a full term
    dictionary; partial sketches merge by elementwise sum, which is
    exactly what partial aggregation does."""
    docs = spread(load_table(spark, "documents", sf_dir))
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    rows = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        F.substring(F.md5(F.concat(F.lit(f"{s}|"), F.col("tok"))), 1, 1)
                        .alias("bucket"),
                    )
                    for s in range(CMS_DEPTH)
                ]
            )
        ).alias("sb")
    ).select("sb.seed", "sb.bucket")
    sketch = rows.groupBy("seed", "bucket").agg(F.count("*").alias("c"))

    terms = spark.createDataFrame([(t,) for t in CMS_TERMS], "term string")
    term_rows = terms.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        F.substring(
                            F.md5(F.concat(F.lit(f"{s}|"), F.col("term"))), 1, 1
                        ).alias("bucket"),
                    )
                    for s in range(CMS_DEPTH)
                ]
            )
        ).alias("sb"),
    ).select("term", "sb.seed", "sb.bucket")
    est = (
        term_rows.join(sketch, ["seed", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )
    true_counts = (
        tok.filter(F.col("tok").isin(*CMS_TERMS))
        .groupBy(F.col("tok").alias("term"))
        .agg(F.count("*").alias("true_count"))
    )
    return (
        est.join(true_counts, "term", "left")
        .select(
            "term",
            F.coalesce("true_count", F.lit(0)).cast("bigint").alias("true_count"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
        )
    )


_CMS_SEED_ROWS = " UNION ALL ".join(
    f"SELECT tok, {s} AS seed, substr(md5('{s}|' || tok), 1, 1) AS bucket FROM tok"
    for s in range(CMS_DEPTH)
)
_CMS_TERM_ROWS = " UNION ALL ".join(
    f"SELECT term, {s} AS seed, substr(md5('{s}|' || term), 1, 1) AS bucket FROM terms"
    for s in range(CMS_DEPTH)
)
_CMS_TERMS_SQL = ", ".join(f"('{t}')" for t in CMS_TERMS)

ORACLE_CMS_COUNTS = f"""
WITH tok AS (
  SELECT unnest({_tokens_sql('text')}) AS tok FROM documents
),
rows_ AS ({_CMS_SEED_ROWS}),
sketch AS (SELECT seed, bucket, count(*) AS c FROM rows_ GROUP BY seed, bucket),
terms(term) AS (VALUES {_CMS_TERMS_SQL}),
trows AS ({_CMS_TERM_ROWS}),
est AS (
  SELECT term, min(COALESCE(c, 0)) AS cms_est
  FROM trows LEFT JOIN sketch USING (seed, bucket) GROUP BY term
),
tc AS (
  SELECT tok AS term, count(*) AS true_count FROM tok
  WHERE tok IN ({", ".join(f"'{t}'" for t in CMS_TERMS)}) GROUP BY tok
)
SELECT est.term AS term, CAST(COALESCE(true_count, 0) AS BIGINT) AS true_count,
       CAST(cms_est AS BIGINT) AS cms_est
FROM est LEFT JOIN tc ON est.term = tc.term
"""


# --- benchmark decontamination -----------------------------------------

DECONTAM_NGRAM = 8


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training documents share any
    word-8-gram with the held-out test split? The standard n-gram-
    overlap contamination check run before training on a scraped
    corpus (the planted near-duplicates in the fixture cross the
    hash-split boundary, so the result is non-trivial).

    Splits reuse the stable md5-prefix assignment (a doc's split never
    changes as the corpus grows); both sides shingle into DISTINCT
    md5-hashed 8-grams and meet in one equi-join on the hash —
    shuffle rows are 32-hex-char keys, not text. Per contaminated
    training doc: how many distinct 8-grams leak and from how many
    test docs. Scale: the test split is a small fraction of the
    corpus, so its shingle side broadcasts when it fits; otherwise
    this is a hash-partitioned join whose fan-out is bounded by true
    8-gram collisions (random text collides almost never — matches ARE
    the contamination).

    Docs shorter than 8 tokens are excluded (no full shingle exists;
    ``word_shingles`` would emit a truncated tail that over-matches).
    """
    from ..operators.dedup import word_shingles
    from .pipeline import TRAIN_HEX, VAL_HEX

    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    base = docs.select(
        "doc_id", toks.alias("toks"), h.alias("h")
    ).filter(F.size("toks") >= DECONTAM_NGRAM)
    sh = base.select(
        "doc_id",
        "h",
        F.explode(
            F.array_distinct(
                F.transform(
                    word_shingles(F.col("toks"), DECONTAM_NGRAM), F.md5
                )
            )
        ).alias("sh"),
    )
    train = sh.filter(F.col("h") < TRAIN_HEX).select(
        F.col("doc_id").alias("train_doc_id"), "sh"
    )
    test = sh.filter(F.col("h") >= VAL_HEX).select(
        F.col("doc_id").alias("bench_doc_id"), "sh"
    )
    return (
        train.join(test, "sh")
        .groupBy("train_doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_ngrams"),
            F.countDistinct("bench_doc_id").alias("n_bench_docs"),
        )
    )


ORACLE_DECONTAMINATE = f"""
WITH t AS (
  SELECT doc_id, substr(md5(CAST(doc_id AS STRING)), 1, 4) AS h,
         {_tokens_sql('text')} AS toks
  FROM documents
),
s AS (
  SELECT doc_id, h,
         unnest(list_distinct(list_transform(
           list_transform(generate_series(1, len(toks) - {DECONTAM_NGRAM - 1}),
                          i -> array_to_string(toks[i:i + {DECONTAM_NGRAM - 1}], ' ')),
           g -> md5(g)))) AS sh
  FROM t WHERE len(toks) >= {DECONTAM_NGRAM}
),
train AS (SELECT doc_id AS train_doc_id, sh FROM s WHERE h < '{{train_hex}}'),
test  AS (SELECT doc_id AS bench_doc_id, sh FROM s WHERE h >= '{{val_hex}}')
SELECT train_doc_id,
       count(DISTINCT sh) AS n_shared_ngrams,
       count(DISTINCT bench_doc_id) AS n_bench_docs
FROM train JOIN test USING (sh)
GROUP BY train_doc_id
"""


def _oracle_decontaminate() -> str:
    from .pipeline import TRAIN_HEX, VAL_HEX

    return ORACLE_DECONTAMINATE.format(train_hex=TRAIN_HEX, val_hex=VAL_HEX)


# --- one-pass document profiler ---------------------------------------

def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole per-document text-analysis surface in ONE scan: token
    counts, quality signals, language-ID, content fingerprints,
    repetition ratio, 16-bit SimHash, the feature-hashed embedding,
    and the corpus unigram-LM log-probability.

    This is the plan shape a 100 TB corpus profiler wants — every
    narrow per-doc metric shares a single tokenization over a single
    scan (the seven individual queries above each re-scanned and
    re-tokenized), and only the unigram model adds an aggregation pass
    (token explode → corpus model → broadcast join back). The
    individual q_* functions stay as the unit-documented operator
    surface; this query is the driver-checked composition of all of
    them (each column hash-verified against the DuckDB oracle).

    Plan-build cost (VERDICT r4 ask #5): the ~40-expression metric
    block is constructed as Spark-SQL strings via ``selectExpr`` —
    ONE py4j round trip per select instead of one per Column node.
    The Python-API builders this replaced issued hundreds of py4j
    calls for the lambda-heavy trees (histogram/simhash/shingles),
    ~1.9 s of the cold run and ~0.8 s on EVERY warm re-build; the SQL
    strings parse JVM-side. Expression semantics are unchanged — each
    string is the literal rendering of the prior Column tree, and the
    DuckDB oracle hash-checks every column.
    """
    # The pin moved one level DOWN in round 13: r12 cached the wide
    # tokenized frame (text + toks array + norm), whose serialization
    # cost more than recomputing tokenization — the materialization
    # wrote ~5× the raw text bytes and the 4 consumer branches
    # stampeded on the cache lock (~1.4 s cold wall). Caching just the
    # spread (doc_id, text) rows keeps the ONE scan+exchange shared
    # while each branch derives only the columns it needs above the
    # cache (the fingerprint branch only norm, the LM branches only
    # toks). Isolated A/B at sf0.1: wide pin cold 6.7–7.5 s / narrow
    # unshared 5.4–5.9 s; this form keeps the narrow colds and drops
    # the per-branch re-scan stages.
    docs = pin(spread(load_table(spark, "documents", sf_dir).select("doc_id", "text")))
    bound = docs.selectExpr(
        "doc_id",
        "text",
        "filter(split(lower(text), ' '), x -> x != '') AS toks",
        r"regexp_replace(lower(text), '\\s+', ' ') AS norm",
    )

    def n_hits_sql(ws: list[str]) -> str:
        inlist = ", ".join(f"'{w}'" for w in ws)
        return f"cast(size(filter(toks, x -> x in ({inlist}))) as bigint)"

    tri = (
        "transform(sequence(1, greatest(size(toks) - 2, 1)), "
        "i -> array_join(slice(toks, i, 3), ' '))"
    )
    # 16-bit SimHash (operators/dedup.py::simhash16 rendered to SQL):
    # bit j of md5(token)[:4], MSB-first per hex char, votes ±1.
    bits = ", ".join(
        f"shiftright(cast(conv(substring(h, {j // 4 + 1}, 1), 16, 10) as bigint),"
        f" {3 - (j % 4)}) % 2"
        for j in range(16)
    )
    votes = (
        "aggregate(transform(array_distinct(toks), t -> substring(md5(t), 1, 4)), "
        f"array_repeat(0L, 16), (acc, h) -> zip_with(acc, array({bits}), "
        "(v, b) -> v + b * 2 - 1))"
    )
    simhash = (
        f"cast(aggregate(transform({votes}, "
        "(v, j) -> if(v > 0, power(2.0D, cast(j as double)), 0.0D)), "
        "0.0D, (a, b) -> a + b) as bigint)"
    )
    # hashing-trick histogram (_hash_bucket_counts rendered to SQL)
    counts = (
        f"aggregate(transform(toks, t -> cast(conv(substring(md5(t), 1, 2), 16, 10) "
        f"as int) % {EMBED_DIM}), array_repeat(0.0D, {EMBED_DIM}), "
        "(acc, b) -> transform(acc, (v, i) -> if(i = b, v + 1.0D, v)))"
    )

    staged = bound.selectExpr(
        "doc_id",
        "cast(size(toks) as bigint) AS n_ws_tokens",
        r"cast(size(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]', 0)) "
        "as bigint) AS n_bpe_tokens",
        "cast(length(text) as bigint) AS n_chars_measured",
        "round(cast(aggregate(toks, 0L, (acc, x) -> acc + length(x)) as double) "
        "/ greatest(size(toks), 1), 6) AS avg_token_len",
        f"round(cast({n_hits_sql(STOPWORDS['en'])} as double) "
        "/ greatest(size(toks), 1), 6) AS stopword_ratio",
        "round(cast(length(text) - length(regexp_replace(text, '[.,!?;:]', '')) "
        "as double) / greatest(length(text), 1), 6) AS punct_ratio",
        *[f"{n_hits_sql(ws)} AS score_{lang}" for lang, ws in STOPWORDS.items()],
        "md5(norm) AS exact_fp",
        # shingle_fp: moved OUT of this projection to the chunked
        # codegen explode (min_shingle_md5, round 7) — the transform()
        # lambda evaluated md5 interpreted, one call per CHARACTER:
        # 74.8 s warm at the 100× replica in the standalone
        # fingerprint op for what is a narrow map. Joined back below.
        # size(tri) is pure arithmetic — greatest(n_tok − 2, 1) — so the
        # trigram array is rendered only once, inside array_distinct.
        # (Measured a WASH at the 100× replica steady state — Spark's
        # subexpression reuse already avoided re-rendering the repeated
        # {tri} mentions, and array_distinct itself is the cost — kept
        # because computing a size arithmetically beats building an
        # array to measure it, at any scale.)
        "cast(greatest(size(toks) - 2, 1) as bigint) AS n_trigrams",
        f"round(cast(greatest(size(toks) - 2, 1) - size(array_distinct({tri})) "
        "as double) / greatest(greatest(size(toks) - 2, 1), 1), 6) "
        "AS repetition_ratio",
        f"{simhash} AS simhash",
        f"{counts} AS counts",
    )

    nrm = "sqrt(aggregate(counts, 0.0D, (a, y) -> a + y * y))"
    profile = staged.selectExpr(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        "n_chars_measured",
        "avg_token_len",
        "stopword_ratio",
        "punct_ratio",
        "(n_ws_tokens >= 10 AND avg_token_len >= 2.0D AND avg_token_len <= 12.0D "
        "AND punct_ratio <= 0.2D) AS quality_keep",
        "score_en",
        "score_es",
        "score_fr",
        "score_de",
        "CASE WHEN score_en >= score_es AND score_en >= score_fr "
        "AND score_en >= score_de AND score_en > 0 THEN 'en' "
        "WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 "
        "THEN 'es' "
        "WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr' "
        "WHEN score_de > 0 THEN 'de' "
        "ELSE 'unknown' END AS lang_pred",
        "exact_fp",
        "n_trigrams",
        "repetition_ratio",
        "simhash",
        "concat_ws(',', transform(counts, x -> format_string('%.6f', "
        f"round(x / greatest({nrm}, 1E-12D), 6)))) AS embedding_csv",
        # left join (ADVICE r7): NULL-norm docs produce no explode rows;
        # keep the row with shingle_fp NULL like the oracle does.
    ).join(min_shingle_md5(bound), "doc_id", "left")

    tok = bound.select("doc_id", F.explode("toks").alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    # The corpus token total equals sum(size(toks)) — a row-local
    # partial aggregation over the tokenized frame. Deriving it from
    # `vocab` (the r12 shape: vocab.agg(sum(c))) gave vocab a second
    # consumer, so the token explode + vocab aggregation computed
    # TWICE per run (two 57 KB vocab exchanges in the r13 stage
    # profile); this form removes the duplicate pass without touching
    # the value (sum of per-token counts ≡ total token count;
    # size(NULL) is NULL under non-legacy sizeOfNull and sum skips
    # it, matching explode-of-NULL producing no rows).
    total = bound.agg(F.sum(F.size("toks")).alias("t"))
    model = vocab.crossJoin(total).select(
        "tok", F.round(F.log(F.col("c") / F.col("t")), 4).alias("lp")
    )
    per_doc = (
        # unhinted: AQE broadcasts the vocab-sized LM while it fits,
        # shuffle-joins when the corpus vocabulary outgrows it
        tok.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lm"),
            F.sum(F.col("lp").cast("decimal(18,4)")).alias("sum_lp"),
        )
    )
    # avg rounded to 4 dp in EXACT integer arithmetic (the bigram
    # twin's sign-split form): double round(sum/n, 4) splits engines
    # on near-ties — the sf0.1 full-window sweep hit 9 of 5000 docs.
    return (
        profile.join(per_doc, "doc_id", "left")
        .withColumn("__s_e4", (F.col("sum_lp") * 10000).cast("bigint"))
        .withColumn(
            "avg_logprob",
            F.expr(
                "CAST((CASE WHEN __s_e4 < 0 THEN -1 ELSE 1 END)"
                " * ((2 * abs(__s_e4) + n_lm) DIV (2 * n_lm)) AS DOUBLE) / 10000"
            ),
        )
        .drop("n_lm", "sum_lp", "__s_e4")
    )


def _oracle_doc_profile() -> str:
    from .dedup import simhash_bits_sql

    score_cols = ",\n         ".join(
        f"{_score_sql(lang)} AS score_{lang}" for lang in STOPWORDS
    )
    bucket = (
        "((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))"
        f" % {EMBED_DIM}"
    )
    return f"""
WITH t AS (
  SELECT doc_id, text,
         {_tokens_sql('text')} AS toks,
         regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_ws_tokens,
         len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
         length(text) AS n_chars_measured,
         ROUND(CAST(coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS avg_token_len,
         ROUND(CAST(len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS stopword_ratio,
         ROUND(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1), 6) AS punct_ratio,
         {score_cols},
         md5(norm) AS exact_fp,
         list_min(list_transform(generate_series(1, greatest(length(norm) - 7, 1)),
                                 i -> md5(substr(norm, i, 8)))) AS shingle_fp,
         list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                        i -> array_to_string(toks[i:i + 2], ' ')) AS tri,
         {simhash_bits_sql('list_distinct(toks)')} AS simhash,
         list_transform(generate_series(0, {EMBED_DIM - 1}),
           b -> CAST(len(list_filter(toks, tok -> {bucket} = b)) AS DOUBLE)) AS counts
  FROM t
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
model AS (
  SELECT tok, ROUND(ln(c / (SELECT CAST(sum(c) AS DOUBLE) FROM vocab)), 4) AS lp
  FROM vocab
),
lm AS (
  SELECT doc_id, count(*) AS n_lm,
         CAST(SUM(CAST(lp AS DECIMAL(18,4))) * 10000 AS BIGINT) AS s_e4
  FROM tok JOIN model USING (tok)
  GROUP BY doc_id
)
SELECT m.doc_id, n_ws_tokens, n_bpe_tokens, n_chars_measured,
       avg_token_len, stopword_ratio, punct_ratio,
       (n_ws_tokens >= 10 AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
        AND punct_ratio <= 0.2) AS quality_keep,
       score_en, score_es, score_fr, score_de,
       CASE
         WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de
              AND score_en > 0 THEN 'en'
         WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
         WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
         WHEN score_de > 0 THEN 'de'
         ELSE 'unknown'
       END AS lang_pred,
       exact_fp, shingle_fp,
       CAST(len(tri) AS BIGINT) AS n_trigrams,
       ROUND(CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
             / greatest(len(tri), 1), 6) AS repetition_ratio,
       simhash,
       array_to_string(
         list_transform(counts, x -> printf('%.6f',
           ROUND(x / greatest(sqrt(list_aggregate(list_transform(counts, y -> y * y), 'sum')), 1e-12), 6))),
         ',') AS embedding_csv,
       (CASE WHEN lm.s_e4 < 0 THEN -1 ELSE 1 END)
         * ((2 * abs(lm.s_e4) + lm.n_lm) // (2 * lm.n_lm)) / 10000.0 AS avg_logprob
FROM m LEFT JOIN lm ON m.doc_id = lm.doc_id
"""


# --- PII redaction (training-data cleaning) ----------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (no
# backrefs, no lookaround) so Spark and DuckDB compile them
# identically.
_RE_URL = r"https?://[^ ]+"
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_PHONE = r"\+1 \(555\) 010-[0-9]{4}"


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived corpus with deterministically planted PII: every 3rd
    doc gains a contact email, every 5th a tracking URL, every 7th a
    phone number — the contamination shapes a pretraining-corpus
    cleaning pass actually meets (same derived-fixture pattern as the
    boilerplate corpus in suite/dedup.py)."""
    docs = load_table(spark, "documents", sf_dir)
    with_email = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact me at user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.col("text"))
    with_url = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            with_email,
            F.lit(" see https://example.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=abc"),
        ),
    ).otherwise(with_email)
    with_phone = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            with_url,
            F.lit(" call +1 (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(with_url)
    return docs.select("doc_id", with_phone.alias("text"))


def q_doc_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the planted corpus: URLs → [URL], emails →
    [EMAIL], phone numbers → [PHONE] (URL first — a URL can embed an
    '@'), then whitespace-normalize. Counts are emitted per class so
    the redaction rate is auditable downstream. Pure JVM
    ``regexp_replace``/``regexp_count`` — a narrow map, no shuffle,
    embarrassingly parallel at any corpus size."""
    docs = spread(_docs_with_pii(spark, sf_dir))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _RE_URL, "[URL]"),
            _RE_EMAIL,
            "[EMAIL]",
        ),
        _RE_PHONE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        F.trim(F.regexp_replace(redacted, " +", " ")).alias("clean_text"),
        # patterns as Column literals: SQL-literal backslash escaping
        # never touches them
        F.regexp_count("text", F.lit(_RE_URL)).cast("bigint").alias("n_urls"),
        F.regexp_count("text", F.lit(_RE_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("text", F.lit(_RE_PHONE)).cast("bigint").alias("n_phones"),
    )


_PII_CORPUS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN base3 || ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE base3 END AS text
FROM (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN base2 || ' see https://example.org/d/' || CAST(doc_id AS VARCHAR) || '?ref=abc'
              ELSE base2 END AS base3
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN text || ' contact me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE text END AS base2
    FROM documents
  )
)
"""

ORACLE_DOC_REDACT = f"""
WITH pii AS ({_PII_CORPUS_SQL})
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text, 'https?://[^ ]+', '[URL]', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
           '\\+1 \\(555\\) 010-[0-9]{{4}}', '[PHONE]', 'g'),
         ' +', ' ', 'g')) AS clean_text,
       CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\+1 \\(555\\) 010-[0-9]{{4}}')) AS BIGINT) AS n_phones
FROM pii
"""


# --- positional phrase search -------------------------------------------

PHRASE = ("spark", "join")


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via positional posting-list intersection —
    the inverted-index primitive under every search engine (and under
    n-gram-level benchmark decontamination): tokenize with positions,
    take the two query terms' posting lists, and equi-join them on
    (doc_id, adjacent position). Output: per matching doc, occurrence
    count and first match position (1-based).

    Scale: at 100 TB the positional postings table IS the materialized
    index (built once — one posexplode scan, partitioned by token);
    a phrase query then joins only the query terms' lists — fan-out
    bounded by term frequency, never a corpus scan. The adjacency is
    part of the equi-join KEY (p2 = p1+1 folded into the join), so
    the pair space is matched positions, not |list_a| × |list_b| per
    doc."""
    docs = spread(load_table(spark, "documents", sf_dir))
    post = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = post.filter(F.col("tok") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("p1"), (F.col("pos") + 1).alias("p2")
    )
    b = post.filter(F.col("tok") == PHRASE[1]).select(
        "doc_id", F.col("pos").alias("p2")
    )
    return (
        a.join(b, ["doc_id", "p2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("p1").cast("bigint").alias("first_pos"),
        )
    )


ORACLE_PHRASE_SEARCH = f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
post AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks)),
                i -> struct_pack(pos := i, tok := toks[i]))) AS p
  FROM t
),
a AS (SELECT doc_id, p.pos AS p1 FROM post WHERE p.tok = '{PHRASE[0]}'),
b AS (SELECT doc_id, p.pos AS p2 FROM post WHERE p.tok = '{PHRASE[1]}')
SELECT a.doc_id AS doc_id, count(*) AS n_occurrences,
       CAST(min(p1) AS BIGINT) AS first_pos
FROM a JOIN b ON a.doc_id = b.doc_id AND b.p2 = a.p1 + 1
GROUP BY a.doc_id
"""


# --- BPE merge learning -------------------------------------------------

BPE_STEPS = 3
BPE_MAX_WORD = 12  # bounds symbol count per word (and oracle recursion)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich, Haddow & Birch
    2016 — the subword tokenizer trainer): ``BPE_STEPS`` rounds of
    (count adjacent symbol pairs weighted by word frequency → take the
    most frequent pair → merge its non-overlapping left-to-right
    occurrences in every word), starting from characters. Output is
    the learned merge table (step, pa, pb, pair_count) — the artifact
    a tokenizer ships.

    Fully declarative fixed-iteration build (the PageRank / Lloyd
    pattern): each round's argmax pair is a 1-row TakeOrdered
    broadcast-joined into the next round's merge lambda — NO driver
    collect; the whole 3-round trainer is one lazy DAG. The
    left-to-right merge is an ``aggregate`` fold over the symbol
    array (a merged symbol can't re-merge in the same round because
    its VALUE is the concatenation, matching BPE's definition), and
    ties pick the lexicographically smallest pair — deterministic on
    both engines.

    Scale: this is how production BPE trainers actually run — one
    corpus scan builds the word-FREQUENCY table (map-side combining,
    O(vocab) not O(corpus tokens)), and every iteration touches only
    that vocab table; the corpus is never re-scanned. The oracle
    replays the identical rounds with recursive-CTE folds."""
    outs, _ = _bpe_chain(spark, sf_dir)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _bpe_chain(spark: SparkSession, sf_dir: str):
    """Shared BPE training DAG: returns (per-round best-pair DFs, the
    final per-word symbol table after all merges)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    words = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") <= BPE_MAX_WORD)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    syms = words.select("word", "wf", F.split("word", "").alias("syms"))
    outs = []
    for step in range(1, BPE_STEPS + 1):
        pairs = syms.filter(F.size("syms") >= 2).select(
            "wf",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS pa, "
                    "element_at(syms, i + 1) AS pb))"
                )
            ).alias("pr"),
        )
        pc = (
            pairs.groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
            .agg(F.sum("wf").cast("bigint").alias("cnt"))
        )
        best = pc.orderBy(F.col("cnt").desc(), "pa", "pb").limit(1)
        outs.append(
            best.select(
                F.lit(step).cast("bigint").alias("step"), "pa", "pb",
                F.col("cnt").alias("pair_count"),
            )
        )
        merged = F.aggregate(
            F.slice(F.col("syms"), 2, F.size("syms") - 1),
            F.array(F.element_at(F.col("syms"), 1)),
            lambda acc, s: F.when(
                (F.element_at(acc, -1) == F.col("pa")) & (s == F.col("pb")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.col("pa"), F.col("pb"))),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        syms = (
            syms.crossJoin(F.broadcast(best.select("pa", "pb")))
            .select("word", "wf", merged.alias("syms"))
        )
    return outs, syms


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the
    just-learned BPE merges (same declarative training DAG as
    ``unit_bpe_merges``) and report per-doc char count, subword-token
    count and the compression ratio chars/subtokens — the number a
    tokenizer's quality is judged by. Words longer than
    ``BPE_MAX_WORD`` chars are outside the trained vocab and count as
    their raw character symbols (documented training filter).

    Scale: the encoder is a broadcast-out word→|symbols| DICTIONARY
    join (the vocab table is corpus-size-independent) over the token
    stream — at 100 TB this is exactly how you tokenize: join the
    frozen vocab, never re-run merges per document."""
    _, syms = _bpe_chain(spark, sf_dir)
    word_len = syms.select(
        "word",
        F.size("syms").alias("n_sub"),
        F.length("word").alias("n_chr"),
    )
    docs = spread(load_table(spark, "documents", sf_dir))
    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
    enc = tok.join(F.broadcast(word_len), "word", "left").select(
        "doc_id",
        F.coalesce("n_sub", F.length("word")).alias("n_sub"),
        F.coalesce("n_chr", F.length("word")).alias("n_chr"),
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_chr").cast("bigint").alias("n_chars"),
        F.sum("n_sub").cast("bigint").alias("n_subtokens"),
        F.round(
            F.sum("n_chr").cast("double") / F.sum("n_sub"), 6
        ).alias("chars_per_token"),
    )


def _bpe_ctes() -> str:
    # Each merge step s{k} reads s{k-1} several times; DuckDB inlines a
    # plain CTE at every reference, so without MATERIALIZED the steps
    # recompute each other (the encode oracle ran 89 s instead of 0.2 s).
    ctes = [
        f"""w AS (
  SELECT word, count(*) AS wf FROM (
    SELECT unnest({_tokens_sql('text')}) AS word FROM documents
  ) WHERE len(word) <= {BPE_MAX_WORD} GROUP BY word
),
s0 AS MATERIALIZED (SELECT word, wf, string_split(word, '') AS syms FROM w)"""
    ]
    for k in range(1, BPE_STEPS + 1):
        prev = f"s{k - 1}"
        ctes.append(f"""pr{k} AS (
  SELECT wf, unnest(list_transform(generate_series(1, len(syms) - 1),
                    i -> struct_pack(pa := syms[i], pb := syms[i + 1]))) AS pr
  FROM {prev} WHERE len(syms) >= 2
),
pc{k} AS (SELECT pr.pa AS pa, pr.pb AS pb, CAST(sum(wf) AS BIGINT) AS cnt
          FROM pr{k} GROUP BY 1, 2),
best{k} AS (SELECT pa, pb, cnt FROM pc{k} ORDER BY cnt DESC, pa, pb LIMIT 1),
s{k} AS MATERIALIZED (
  WITH RECURSIVE r{k} AS (
    SELECT word, wf, 1 AS i, [syms[1]] AS acc FROM {prev}
    UNION ALL
    SELECT r.word, r.wf, r.i + 1,
      CASE WHEN r.acc[-1] = (SELECT pa FROM best{k})
                AND p.syms[r.i + 1] = (SELECT pb FROM best{k})
           THEN list_append(r.acc[:-2], (SELECT pa || pb FROM best{k}))
           ELSE list_append(r.acc, p.syms[r.i + 1]) END
    FROM r{k} r JOIN {prev} p ON r.word = p.word WHERE r.i < len(p.syms)
  )
  SELECT r.word, r.wf, r.acc AS syms
  FROM r{k} r JOIN {prev} p ON r.word = p.word WHERE r.i = len(p.syms)
)""")
    return "WITH " + ",\n".join(ctes)


def _oracle_bpe_merges() -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS step, pa, pb, cnt AS pair_count FROM best{k}"
        for k in range(1, BPE_STEPS + 1)
    )
    return _bpe_ctes() + "\n" + unions


def _oracle_bpe_encode() -> str:
    return f"""{_bpe_ctes()},
wl AS (SELECT word, len(syms) AS n_sub, len(word) AS n_chr FROM s{BPE_STEPS}),
tok AS (SELECT doc_id, unnest({_tokens_sql('text')}) AS word FROM documents),
enc AS (
  SELECT doc_id,
         COALESCE(n_sub, len(word)) AS n_sub,
         COALESCE(n_chr, len(word)) AS n_chr
  FROM tok LEFT JOIN wl USING (word)
)
SELECT doc_id, count(*) AS n_words,
       CAST(sum(n_chr) AS BIGINT) AS n_chars,
       CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
       ROUND(CAST(CAST(sum(n_chr) AS BIGINT) AS DOUBLE)
             / CAST(sum(n_sub) AS BIGINT), 6) AS chars_per_token
FROM enc GROUP BY doc_id
"""


# --- linear quality-classifier application --------------------------------

QC_DIM = 64
# "Pretrained" fasttext-style linear model over the 64 hashing-trick
# buckets, embedded as integer milli-logit literals (Knuth-hash spread,
# zero-mean-ish). Production shape: train offline, ship the weight
# vector as literals / a broadcast array, score with pure JVM ops.
QC_WEIGHTS = [((b * 2654435761) % 4001) - 2000 for b in range(QC_DIM)]
QC_THRESH_MILLI = 0  # keep iff avg token milli-logit > 0


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`quality_classifier_frame` over the fixture documents."""
    return quality_classifier_frame(load_table(spark, "documents", sf_dir))


def quality_classifier_frame(docs: DataFrame) -> DataFrame:
    """Linear bag-of-words quality classifier APPLICATION — the
    fasttext-style model-scoring primitive of a crawl pipeline (score
    every doc with a tiny linear model, keep the high-logit ones; cf.
    the CCNet/GPT-3 quality-filter setup). Each token hashes to one of
    64 buckets (the `unit_text_hash_embeddings` feature space); the
    doc score is the mean bucket weight of its tokens.

    Exactness: weights are integer milli-logits, the doc sum is an
    exact bigint, and the keep decision is the integer
    cross-multiplication ``sum_w > thresh · n_tok`` — no float
    boundary anywhere; the reported mean is one shared-shape division
    rounded to 6. (A sigmoid would add nothing: it is monotone, and
    its exp() is exactly the last-ulp cross-engine hazard the suite
    avoids by policy.)

    Scale: narrow map over the token array — one md5 + one broadcast
    64-int lookup per token, zero shuffles before the final (absent
    here) filter; the weight vector rides in the plan as a literal
    array exactly like a broadcast model would."""
    docs = spread(docs)
    # SQL strings since round 13 (py4j plan-build cut, VERDICT r12
    # ask #7): the weight literal alone was 64 F.lit round trips per
    # build. Literal rendering of the prior Column trees,
    # sameSemantics-pinned in tests/test_plans.py.
    warr = "array(" + ", ".join(str(w) for w in QC_WEIGHTS) + ")"
    toks = _tokens_sql_spark("text")
    per_tok = (
        f"transform({toks}, t -> cast(element_at({warr}, "
        f"(cast(conv(substring(md5(t), 1, 2), 16, 10) as int) % {QC_DIM}) + 1)"
        " as bigint))"
    )
    base = docs.selectExpr(
        "doc_id",
        f"cast(size({toks}) as bigint) AS n_tokens",
        f"aggregate({per_tok}, cast(0 as bigint), (a, x) -> a + x)"
        " AS sum_w_milli",
    )
    return base.selectExpr(
        "doc_id",
        "n_tokens",
        "sum_w_milli",
        "round(cast(sum_w_milli as double) / greatest(n_tokens, 1), 6)"
        " AS avg_w_milli",
        f"(sum_w_milli > {QC_THRESH_MILLI} * n_tokens) AS keep",
    )


def _oracle_quality_classifier() -> str:
    weights = ", ".join(str(w) for w in QC_WEIGHTS)
    return f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_aggregate(list_transform(toks,
           tok -> [{weights}][
             (((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
              % {QC_DIM}) + 1]), 'sum') AS BIGINT) AS sum_w_milli
  FROM t
)
SELECT doc_id, n_tokens, COALESCE(sum_w_milli, 0) AS sum_w_milli,
       ROUND(CAST(COALESCE(sum_w_milli, 0) AS DOUBLE) / greatest(n_tokens, 1), 6)
         AS avg_w_milli,
       COALESCE(sum_w_milli, 0) > {QC_THRESH_MILLI} * n_tokens AS keep
FROM s
"""


# --- score-band gains/lift table ----------------------------------------

LIFT_BANDS_MILLI = [-200, 0, 100, 200, 300, 400]  # avg milli-logit edges
LIFT_LABEL_TOKS = 56  # deterministic label: doc length ≥ corpus median


def q_score_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for the shipped quality classifier — the
    model-EVALUATION artifact completing the set (confusion matrix in
    ``unit_langid_confusion``, P/R/F1 in ``unit_dedup_eval``): docs
    banded by classifier score, and per band the rate of a
    deterministic held-out label (doc length ≥ the corpus median)
    with its lift over the base rate — the "is the score actually
    ordering quality?" readout every filter threshold decision reads.

    Banding is EXACT integer cross-multiplication: band = #{edges t :
    sum_w_milli ≥ t·n_tokens}, so no division ever happens (floor
    semantics for negative scores diverge between Spark's truncating
    DIV and DuckDB's flooring `//` — this sidesteps the hazard
    entirely, same discipline as the classifier's own keep decision).
    Counts exact; pos_rate and lift are shared-shape divisions
    rounded to 6.

    Scale: the score scan is the classifier's narrow map; the table
    is one groupBy to ≤ |bands|+1 rows plus a broadcast 1-row base
    rate."""
    scored = q_quality_classifier(spark, sf_dir).select(
        "n_tokens", "sum_w_milli"
    )
    band = sum(
        F.when(
            F.col("sum_w_milli") >= F.lit(t) * F.col("n_tokens"), 1
        ).otherwise(0)
        for t in LIFT_BANDS_MILLI
    )
    pos = (F.col("n_tokens") >= LIFT_LABEL_TOKS).cast("int")
    cells = (
        scored.select(band.alias("band"), pos.alias("pos"))
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
    )
    base = cells.agg(
        F.sum("n_docs").alias("n_tot"), F.sum("n_pos").alias("pos_tot")
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs")
    base_rate = F.col("pos_tot").cast("double") / F.col("n_tot")
    return cells.crossJoin(F.broadcast(base)).select(
        "band",
        "n_docs",
        "n_pos",
        F.round(rate, 6).alias("pos_rate"),
        F.round(base_rate, 6).alias("base_rate"),
        F.round(rate / base_rate, 6).alias("lift"),
    )


def _oracle_score_lift() -> str:
    band = " + ".join(
        f"(CASE WHEN sum_w_milli >= {t} * n_tokens THEN 1 ELSE 0 END)"
        for t in LIFT_BANDS_MILLI
    )
    return f"""
WITH scored AS ({_oracle_quality_classifier()}),
cells AS (
  SELECT {band} AS band,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_tokens >= {LIFT_LABEL_TOKS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1
),
base AS (SELECT sum(n_docs) AS n_tot, sum(n_pos) AS pos_tot FROM cells)
SELECT band, n_docs, n_pos,
       ROUND(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate,
       ROUND(CAST(pos_tot AS DOUBLE) / n_tot, 6) AS base_rate,
       ROUND((CAST(n_pos AS DOUBLE) / n_docs)
             / (CAST(pos_tot AS DOUBLE) / n_tot), 6) AS lift
FROM cells CROSS JOIN base
"""


# --- C4-style cross-corpus line dedup with document rewrite ---------------

LINE_MIN_OCCUR = 2  # a line occurring in >= 2 docs is boilerplate
LINE_TOKS = 12      # fixture docs have no sentence delimiters: a "line"
                    # is a fixed 12-token segment (the mechanism is
                    # delimiter-agnostic; C4 splits on newlines)


def q_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`line_dedup_frame` over the fixture documents."""
    return line_dedup_frame(load_table(spark, "documents", sf_dir))


def line_dedup_frame(docs: DataFrame) -> DataFrame:
    """C4's line-level dedup (Raffel et al. 2020 §2.2: lines occurring
    more than once in the dataset are discarded) WITH the rewrite step
    the scoring ops stop short of: docs split into lines (fixed
    12-token segments here — the fixture corpus has no newline/period
    structure; swap the splitter for `split(text, '\n')` on real
    crawl), lines whose hash occurs in ≥2 distinct docs dropped
    corpus-wide, and each doc REASSEMBLED from its surviving lines in
    order. Output per doc: line counts, the cleaned text's length and
    md5 (the rewrite, hash-verified cross-engine), kept ratio.

    Scale: lines are a narrow map; the hot-line table is a map-side-
    combining groupBy on 16-byte hashes; the rewrite is one shuffle
    keyed by doc_id with order restored from the carried line index
    (array_sort over the collected struct list), never a global sort.
    Distinct-doc ≥2 (not total ≥2) keeps within-doc repetition — that
    is `unit_text_repetition`'s department."""
    docs = spread(docs)
    toks = _tokens(F.col("text"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(LINE_TOKS))
    lines = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.posexplode(starts).alias("idx", "st"), F.col("toks"))
        .select(
            "doc_id",
            "idx",
            F.array_join(F.slice(F.col("toks"), F.col("st"), LINE_TOKS), " ").alias("line"),
        )
        .filter(F.col("line") != "")
        .withColumn("lkey", F.md5("line"))
    )
    # ONE pass over the line table (round 13). The r12 shape gave
    # `lines` THREE consumers — the hot-line countDistinct, the
    # left-anti kept join, and the per-doc totals — so the tokenize +
    # posexplode + slice-join + md5 subtree computed three times (two
    # ~4.3 s codegen-compile stages dominated the cold run; ~2 s of
    # the 3.4 s steady wall). "lkey occurs in ≥ 2 distinct docs"
    # (LINE_MIN_OCCUR = 2) is equivalently "min(doc_id) ≠ max(doc_id)
    # over the lkey partition" — the exact_substr_spans window move —
    # and once every row carries its hot flag, totals / kept counts /
    # the rebuild collapse into ONE per-doc aggregation: conditional
    # count, and collect_list over a CASE that is NULL for hot rows
    # (collect_list skips NULLs, so the collected set is exactly the
    # kept lines; a doc whose every line is hot aggregates to n_kept 0
    # and clean_text '' — precisely what the old left join + coalesce
    # produced). Scale trade, stated: the lkey exchange now carries
    # the line text (the old hot aggregation shuffled only hash
    # partials) — bought back by dropping two full corpus
    # tokenize+md5 passes and the kept anti-join; the doc_id rebuild
    # exchange carried the kept text in both shapes.
    from pyspark.sql import Window

    # min ≠ max over the lkey partition is "≥ 2 distinct docs" only
    # at a threshold of 2; any other LINE_MIN_OCCUR needs the count.
    assert LINE_MIN_OCCUR == 2
    # Skew: a whole lkey partition lands in one task, so a single hot
    # line (a footer in every doc) is one corpus-sized sort partition;
    # AQE skew-join splitting does not apply to a window.
    wl = Window.partitionBy("lkey")
    flagged = (
        lines.withColumn("__dmin", F.min("doc_id").over(wl))
        .withColumn("__dmax", F.max("doc_id").over(wl))
        .withColumn("__hot", F.col("__dmin") != F.col("__dmax"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(~F.col("__hot"), F.lit(1))).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__hot"),
                            F.struct(F.col("idx"), F.col("line").alias("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_kept",
        (F.col("n_lines") - F.col("n_kept")).alias("n_dropped"),
        F.length("clean_text").cast("bigint").alias("clean_chars"),
        F.md5("clean_text").alias("clean_md5"),
        F.round(F.col("n_kept").cast("double") / F.col("n_lines"), 6).alias(
            "kept_ratio"
        ),
    )


ORACLE_LINE_DEDUP_REWRITE = f"""
WITH t AS (SELECT doc_id, {{_tokens_sql_text}} AS toks FROM documents),
lines AS (
  SELECT doc_id,
         CAST((st - 1) // {LINE_TOKS} AS BIGINT) AS idx,
         array_to_string(list_slice(toks, st, st + {LINE_TOKS} - 1), ' ') AS line
  FROM (
    SELECT doc_id, toks,
           unnest(range(1, greatest(len(toks), 1) + 1, {LINE_TOKS})) AS st
    FROM t
  )
  WHERE array_to_string(list_slice(toks, st, st + {LINE_TOKS} - 1), ' ') <> ''
),
keyed AS (SELECT *, md5(line) AS lkey FROM lines),
hot AS (
  SELECT lkey FROM keyed GROUP BY lkey HAVING count(DISTINCT doc_id) >= {LINE_MIN_OCCUR}
),
kept AS (
  SELECT * FROM keyed WHERE lkey NOT IN (SELECT lkey FROM hot)
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, ' ' ORDER BY idx) AS clean_text
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_lines FROM keyed GROUP BY doc_id)
SELECT t2.doc_id,
       n_lines,
       COALESCE(n_kept, 0) AS n_kept,
       n_lines - COALESCE(n_kept, 0) AS n_dropped,
       CAST(length(COALESCE(clean_text, '')) AS BIGINT) AS clean_chars,
       md5(COALESCE(clean_text, '')) AS clean_md5,
       ROUND(CAST(COALESCE(n_kept, 0) AS DOUBLE) / n_lines, 6) AS kept_ratio
FROM totals t2 LEFT JOIN rebuilt r ON t2.doc_id = r.doc_id
""".replace("{_tokens_sql_text}", _tokens_sql('text'))


# --- per-source corpus outlier docs ----------------------------------------

DOC_MAD_K = 0.6745
DOC_MAD_CUT = 3.5


def q_corpus_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus anomaly surfacing: per SOURCE, each doc's token count
    scored by the median/MAD modified z — the truncated-fetch /
    concatenated-page / garbage-dump detector a crawl pipeline runs
    per origin (a 3-token doc from a source whose median is 90 is a
    fetch bug, not content). `unit_mad_anomalies`' robust-z machinery
    applied to the corpus axis, with the medians computed as
    value HISTOGRAMS (sources are low-cardinality — the exact regime
    where rank windows serialize; see SCALE.md).

    Only the final shared-shape scale/divide is float, rounded 6."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, "documents", sf_dir))
    # plant deterministic concatenated-page bugs (every %83 doc's text
    # repeated 20×, re-keyed +2000000) — the fixture corpus is uniform
    # and its natural length spread already spans 16..100 tokens, so a
    # truncation only reaches z ≈ 1.7; the 20× concat lands z ≈ 40+
    # and MUST come out flagged (self-checking planting, the dedup
    # suite's convention).
    repeated = docs.filter(F.col("doc_id") % 83 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        "source",
        F.repeat(F.concat(F.col("text"), F.lit(" ")), 20).alias("text"),
    )
    all_docs = docs.select("doc_id", "source", "text").unionByName(repeated)
    base = all_docs.select(
        "doc_id", "source", F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )

    def hist_pick(df, col, out):
        h = df.groupBy("source", col).agg(F.count("*").alias("n"))
        wv = Window.partitionBy("source").orderBy(col)
        c = h.withColumn(
            "cum", F.sum("n").over(wv.rowsBetween(Window.unboundedPreceding, 0))
        ).withColumn("total", F.sum("n").over(Window.partitionBy("source")))
        return (
            c.filter(F.col("cum") >= F.expr("(total + 1) DIV 2"))
            .groupBy("source")
            .agg(F.min(col).alias(out))
        )

    med = hist_pick(base, "n_tokens", "med")
    dev = base.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_tokens") - F.col("med"))
    )
    mad = hist_pick(dev, "adev", "mad")
    # z in exact integer micro-units: 0.6745 = 6745e-4, so
    # z·1e6 = 674500·diff / mad — computed as sign(diff) · (674500·|diff|
    # DIV mad), pure integers (floor-div of positives is identical in
    # both engines; signed DIV is not, hence the explicit sign split).
    # The float rendering is then ONE exact-input division — no ROUND
    # half-tie can differ (the exact failure this op's first cut hit:
    # 0.6745·6/16 = 0.2529375, a 6-decimal tie).
    z_e6 = F.when(F.col("mad") == 0, F.lit(None)).otherwise(
        F.signum((F.col("n_tokens") - F.col("med")).cast("double")).cast("bigint")
        * F.expr("(674500 * abs(n_tokens - med)) DIV mad")
    )
    return (
        base.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("med").alias("median_tokens"),
            F.col("mad").alias("mad_tokens"),
            (z_e6.cast("double") / F.lit(1000000.0)).alias("robust_z"),
            (F.abs(z_e6) > F.lit(3500000)).alias("is_outlier"),
        )
    )


ORACLE_CORPUS_OUTLIER_DOCS = f"""
WITH all_docs AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, source, repeat(text || ' ', 20)
  FROM documents WHERE doc_id % 83 = 0
),
base AS (
  SELECT doc_id, source, CAST(len({_tokens_sql('text')}) AS BIGINT) AS n_tokens
  FROM all_docs
),
h1 AS (SELECT source, n_tokens AS v, count(*) AS n FROM base GROUP BY 1, 2),
c1 AS (
  SELECT source, v,
         CAST(SUM(n) OVER (PARTITION BY source ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS total
  FROM h1
),
med AS (SELECT source, min(v) AS med FROM c1 WHERE cum >= (total + 1) // 2 GROUP BY source),
dev AS (
  SELECT b.doc_id, b.source, b.n_tokens, med,
         abs(b.n_tokens - med) AS adev
  FROM base b JOIN med USING (source)
),
h2 AS (SELECT source, adev AS v, count(*) AS n FROM dev GROUP BY 1, 2),
c2 AS (
  SELECT source, v,
         CAST(SUM(n) OVER (PARTITION BY source ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS total
  FROM h2
),
mad AS (SELECT source, min(v) AS mad FROM c2 WHERE cum >= (total + 1) // 2 GROUP BY source)
SELECT d.doc_id, d.source, d.n_tokens,
       med AS median_tokens, mad AS mad_tokens,
       CAST(CASE WHEN mad = 0 THEN NULL
                 ELSE CAST(sign(d.n_tokens - med) AS BIGINT)
                      * ((674500 * abs(d.n_tokens - med)) // mad)
            END AS DOUBLE) / 1000000.0 AS robust_z,
       abs(CASE WHEN mad = 0 THEN NULL
                ELSE CAST(sign(d.n_tokens - med) AS BIGINT)
                     * ((674500 * abs(d.n_tokens - med)) // mad)
           END) > 3500000 AS is_outlier
FROM dev d JOIN mad USING (source)
"""


# --- crawl-order n-gram novelty -------------------------------------------

NOV_N = 8  # shingle width


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-order novelty curve: for each doc (in doc_id = arrival
    order), the fraction of its distinct 8-gram shingles whose FIRST
    corpus occurrence is this doc — the marginal-new-content measure a
    curation pipeline uses to decide when a source is mined out
    (complement of the dedup family: dedup asks "is this a copy?",
    novelty asks "how much of this is new at all?").

    One shingle scan → per-shingle min(doc_id) (map-side combining
    groupBy on the md5 key) → join back → per-doc ratio. Shuffles
    carry 16-byte hashes only; ties are impossible (min over the
    arrival order is unique per shingle)."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    sh = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= NOV_N)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - NOV_N + 1),
                        lambda i: F.md5(F.array_join(F.slice(F.col("toks"), i, NOV_N), " ")),
                    )
                )
            ).alias("h"),
        )
    )
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint")).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 6).alias(
            "novelty_ratio"
        ),
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH t AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(toks, i, i + {NOV_N} - 1), ' ')) AS h
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks) - {NOV_N} + 2)) AS i
    FROM t WHERE len(toks) >= {NOV_N}
  )
),
first AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       ROUND(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty_ratio
FROM sh JOIN first USING (h)
GROUP BY doc_id
"""


# --- T5 span-corruption example generation --------------------------------

SC_START_MOD = 20  # P(span starts at a position) = 1/20
SC_SPAN = 3        # corrupted span length (T5 mean span length)


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption example generation (Raffel et al. 2020 §3.1.4
    / 3.3.4): mask ~15% of each doc's tokens in spans of length 3 and
    emit the (input, target) pair — input has each masked span replaced
    by a ``<extra_id_k>`` sentinel, the target lists each sentinel
    followed by the span it hid, closed by a final sentinel. This is
    the op that PRODUCES denoising training examples, downstream of
    everything the cleaning ops keep.

    The paper samples spans iid; here span starts are the
    deterministic hash predicate md5(doc_id:pos) % 20 == 0 (each start
    masks 3 tokens → ≈15% corruption), which makes the examples
    reproducible across runs/engines — a property a real pipeline
    wants anyway for resumable preprocessing. Overlapping spans merge
    into one sentinel (gaps-and-islands, the ExactSubstr machinery).
    Both rendered sequences are md5-verified cross-engine.

    Scale: one narrow token map + three per-doc windows + one
    reassembly groupBy — the `unit_line_dedup_rewrite` shape with a
    second (target) rendering."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    tok_rows = docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    start = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % SC_START_MOD
        == 0
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    flagged = tok_rows.withColumn("start", start.cast("int")).withColumn(
        "masked",
        F.max("start").over(wp.rowsBetween(-(SC_SPAN - 1), 0)) == 1,
    )
    m = flagged.filter("masked").withColumn("lag_p", F.lag("pos").over(wp))
    isl = m.withColumn(
        "brk", F.when(F.col("lag_p").isNull() | (F.col("pos") - F.col("lag_p") > 1), 1).otherwise(0)
    ).withColumn(
        "island", F.sum("brk").over(wp.rowsBetween(Window.unboundedPreceding, 0))
    )
    sentinel = F.concat(F.lit("<extra_id_"), (F.col("island") - 1).cast("string"), F.lit(">"))
    input_pieces = flagged.filter(~F.col("masked")).select(
        "doc_id", "pos", F.col("tok").alias("piece")
    ).unionByName(
        isl.filter(F.col("brk") == 1).select("doc_id", "pos", sentinel.alias("piece"))
    )
    input_txt = input_pieces.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", F.col("piece").alias("p")))),
                lambda s: s["p"],
            ),
            " ",
        ).alias("input_text")
    )
    span_txt = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("pos0"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", F.col("tok").alias("t")))),
                lambda s: s["t"],
            ),
            " ",
        ).alias("span_text"),
    )
    target_txt = span_txt.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.concat(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "island",
                                F.concat(
                                    F.lit("<extra_id_"),
                                    (F.col("island") - 1).cast("string"),
                                    F.lit("> "),
                                    F.col("span_text"),
                                ).alias("s"),
                            )
                        )
                    ),
                    lambda s: s["s"],
                ),
                " ",
            ),
            F.lit(" <extra_id_"),
            F.count("*").cast("string"),
            F.lit(">"),
        ).alias("target_text"),
    )
    stats = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("masked").cast("bigint")).alias("n_masked"),
    )
    return (
        stats.join(input_txt, "doc_id", "left")
        .join(target_txt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.round(F.col("n_masked").cast("double") / F.col("n_tokens"), 6).alias("mask_ratio"),
            F.md5(F.coalesce("input_text", F.lit(""))).alias("input_md5"),
            F.md5(F.coalesce("target_text", F.lit(""))).alias("target_md5"),
        )
    )


ORACLE_SPAN_CORRUPTION = f"""
WITH t AS (SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents),
tok_rows AS (
  SELECT doc_id, unnest(toks) AS tok,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM t
),
flagged AS (
  SELECT doc_id, pos, tok,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                    CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT) % {SC_START_MOD} = 0
              THEN 1 ELSE 0 END AS start
  FROM tok_rows
),
masked_t AS (
  SELECT *,
         max(start) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN {SC_SPAN - 1} PRECEDING AND CURRENT ROW) = 1
           AS masked
  FROM flagged
),
m AS (
  SELECT *, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lag_p
  FROM masked_t WHERE masked
),
isl AS (
  SELECT *, SUM(CASE WHEN lag_p IS NULL OR pos - lag_p > 1 THEN 1 ELSE 0 END)
              OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
            CASE WHEN lag_p IS NULL OR pos - lag_p > 1 THEN 1 ELSE 0 END AS brk
  FROM m
),
input_pieces AS (
  SELECT doc_id, pos, tok AS piece FROM masked_t WHERE NOT masked
  UNION ALL
  SELECT doc_id, pos, '<extra_id_' || CAST(island - 1 AS VARCHAR) || '>'
  FROM isl WHERE brk = 1
),
input_txt AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS input_text
  FROM input_pieces GROUP BY doc_id
),
span_txt AS (
  SELECT doc_id, island,
         '<extra_id_' || CAST(island - 1 AS VARCHAR) || '> ' ||
           string_agg(tok, ' ' ORDER BY pos) AS s
  FROM isl GROUP BY doc_id, island
),
target_txt AS (
  SELECT doc_id, count(*) AS n_spans,
         string_agg(s, ' ' ORDER BY island)
           || ' <extra_id_' || CAST(count(*) AS VARCHAR) || '>' AS target_text
  FROM span_txt GROUP BY doc_id
),
stats AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
  FROM masked_t GROUP BY doc_id
)
SELECT s.doc_id, n_tokens, n_masked,
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       ROUND(CAST(n_masked AS DOUBLE) / n_tokens, 6) AS mask_ratio,
       md5(COALESCE(input_text, '')) AS input_md5,
       md5(COALESCE(target_text, '')) AS target_md5
FROM stats s
LEFT JOIN input_txt i ON s.doc_id = i.doc_id
LEFT JOIN target_txt g ON s.doc_id = g.doc_id
"""


# --- vocabulary coverage / OOV-rate audit ---------------------------------

OOV_VOCAB_K = 20  # keep the top-K corpus terms as the frozen vocabulary


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: freeze the top-K corpus terms (by
    frequency, ties by term) as the in-vocab set, then report each
    doc's OOV token count and rate — the measurement behind every
    "what vocab size do we need" tokenizer decision, and the per-doc
    form of the coverage curve a BPE trainer reads. K=20 on the
    31-term fixture vocabulary leaves a real OOV tail.

    The vocab is a TakeOrdered top-K broadcast to a token-grain
    left join (the `unit_bpe_encode` dictionary-apply shape); counts
    are exact, the rate is one shared-shape division rounded 6."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    tok_rows = docs.select("doc_id", F.explode(toks).alias("tok"))
    vocab = (
        tok_rows.groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(OOV_VOCAB_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        tok_rows.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("bigint")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
        )
    )


ORACLE_VOCAB_COVERAGE = f"""
WITH tok_rows AS (
  SELECT doc_id, unnest({_tokens_sql('text')}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS freq FROM tok_rows GROUP BY tok
    ORDER BY freq DESC, tok LIMIT {OOV_VOCAB_K}
  )
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM tok_rows t LEFT JOIN vocab v ON t.tok = v.tok
GROUP BY doc_id
"""


# --- Zipf's-law fit over the corpus vocabulary ----------------------------

ZIPF_TOP = 100  # fit over the top-K terms by frequency


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS fit of ln(freq) against ln(rank)
    over the top-100 corpus terms — natural text slopes ≈ −1; a
    synthetic or template-heavy corpus shows up as a flat or kinked
    curve. The corpus-statistics sibling of `unit_text_entropy`
    (per-doc) at whole-corpus grain.

    Determinism: ranks are unique (freq desc, term asc); per-term
    ln(rank)/ln(freq) are rounded to 6 and the five OLS moments are
    EXACT DECIMAL sums of the rounded terms; only the final
    slope/intercept expressions are float, written identically in both
    engines. The top-K select is TakeOrdered (bounded), never a global
    sort of the vocabulary."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    from pyspark.sql import Window

    top = vocab.orderBy(F.desc("freq"), "tok").limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("freq"), "tok")
    xy = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("y"),
    )

    def dsum(c):
        return F.sum(F.col(c).cast("decimal(28,6)")).cast("double")

    moments = xy.select(
        "x", "y",
        F.round(F.col("x") * F.col("y"), 6).cast("decimal(28,6)").alias("xy"),
        F.round(F.col("x") * F.col("x"), 6).cast("decimal(28,6)").alias("xx"),
    ).agg(
        F.count("*").cast("double").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return moments.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
        ).alias("zipf_intercept"),
    )


ORACLE_ZIPF_FIT = f"""
WITH vocab AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest({_tokens_sql('text')}) AS tok FROM documents)
  GROUP BY tok
),
top AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rk
  FROM vocab ORDER BY freq DESC, tok LIMIT {ZIPF_TOP}
),
xy AS (
  SELECT ROUND(ln(CAST(rk AS DOUBLE)), 6) AS x,
         ROUND(ln(CAST(freq AS DOUBLE)), 6) AS y
  FROM top
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS zipf_intercept
FROM m
"""


# --- ExactSubstr-style duplicated-span accounting ------------------------

ESS_L = 16  # span length in tokens (Lee et al. 2021 use 50; fixture docs are short)
ESS_CHUNK = 1024  # chunk size bounding the explode carry (see q_exact_substr_spans)


def chunked_span_table(base: DataFrame) -> DataFrame:
    """The chunked two-level-explode span stage of
    :func:`q_exact_substr_spans`, factored out so the boundary-
    straddling identity test (tests/test_new_ops_properties.py)
    exercises the PRODUCTION expression instead of re-implementing it
    (ADVICE r6). Input: (doc_id, toks, n_tok); output: one row per
    L-token window — (doc_id, p, h) with p the 1-based position and h
    the md5 of the space-joined window. See q_exact_substr_spans'
    docstring for why this shape (Generate carry vs interpreted HOF
    trade)."""
    stride = ESS_CHUNK - ESS_L + 1
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.floor((F.col("n_tok") - ESS_L) / stride).cast("int")
        ),
        lambda c: F.struct(
            (c * stride).cast("int").alias("off"),
            F.slice(F.col("toks"), c * stride + 1, ESS_CHUNK).alias("ct"),
        ),
    )
    return (
        base.filter(F.col("n_tok") >= ESS_L)
        .select("doc_id", F.explode(chunks).alias("ch"))
        .select("doc_id", F.col("ch.off").alias("off"), F.col("ch.ct").alias("ct"))
        .select(
            "doc_id", "off", "ct",
            F.explode(F.sequence(F.lit(1), F.size("ct") - ESS_L + 1)).alias("lp"),
        )
        .select(
            "doc_id",
            (F.col("off") + F.col("lp")).alias("p"),
            F.md5(F.array_join(F.slice(F.col("ct"), F.col("lp"), ESS_L), " ")).alias("h"),
        )
    )


def q_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN accounting — the fixed-window
    approximation of ExactSubstr dedup (Lee, Ippolito et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", which
    removes any ≥50-token span occurring twice in the corpus; their
    suffix array is replaced here by stride-1 rolling window hashes,
    the distributable form of the same predicate: a duplicated span of
    length ≥ L+k implies k+1 duplicated L-windows). Every L=16-token
    window is md5-hashed; windows whose hash occurs in ≥2 distinct
    docs are duplicate positions; per doc, overlapping duplicate
    windows merge into maximal islands (gaps-and-islands: break when
    the next start clears the previous window), and the report is
    (n_spans, n_dup_spans, n_islands, dup_tokens, dup_ratio) — the
    snip-these-ranges work order ExactSubstr hands the trainer,
    where `unit_boilerplate_blocks` only scores coarse 32-token
    aligned blocks.

    Scale: spans are a narrow map (hash + position, text not carried);
    the hot-hash groupBy shuffles O(spans) 16-byte hashes with
    map-side combine; island windows run per doc over only its
    duplicate positions. Stride-1 costs L× the block variant's span
    count — the price of unaligned detection; at 100 TB you shard the
    hash space (the groupBy key) and both stages stay linear.

    Span-hash shape (round 6): a CHUNKED two-level explode. The naive
    position-first explode slices ``toks`` per exploded row, and
    GenerateExec copies every carried child column per output row —
    each doc's full token array materializes once PER POSITION,
    O(n_tok²) bytes per doc: invisible on short fixture docs, fatal on
    a 100k-token document (~40 GB through one Generate). Hashing the
    windows row-locally (transform → array of md5s → posexplode)
    avoids the carry but moves md5 into a nested-HOF projection that
    evaluates interpreted — measured 40% slower on the 100× replica.
    The chunked form keeps BOTH properties: one row-local transform
    slices the doc into overlapping ≤1024-token chunks (stride
    1024−L+1, so every window lives in exactly one chunk; O(2·n_tok)
    bytes total), the chunk explode carries ≤1024 tokens per row, and
    the inner position explode + md5(slice) stays whole-stage codegen.
    Docs shorter than a chunk — the fixture, and most of any crawl —
    take literally the naive plan (one chunk, offset 0): measured a
    wash at sf10 (within session variance), identical (doc, p, h)
    rows pinned at sf0.01 and on a synthetic 5000-token
    boundary-straddling doc."""
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n_tok")
    )
    # ONE span-table computation (round 13). The r12 shape computed
    # the chunked explode + md5 subtree TWICE — once under the
    # hot-hash countDistinct aggregation, once under the
    # duplicate-position join against it — and those were the two
    # dominant stages of this spec (39 s + 32 s CPU cold at sf0.1,
    # most of it per-task JIT of the same generated code compiled
    # twice; 5.5 s + 1.1 s steady). "Hash h occurs in ≥ 2 distinct
    # docs" is equivalently "min(doc_id) ≠ max(doc_id) over the h
    # partition", which a whole-partition window computes on the span
    # table DIRECTLY: one span compute, one h-clustered exchange
    # (the aggregation's exchange shipped ~every (h, doc_id) row
    # anyway — window hashes are near-unique, so map-side combine
    # removed almost nothing), no second pass, no broadcast. The
    # window's per-partition sort replaces the aggregation's hash
    # table — both spill-graceful, and the md5/tokenize pass over the
    # corpus (the real cost at 100 TB) now runs exactly once.
    spans = chunked_span_table(base)
    from pyspark.sql import Window

    # min ≠ max over the h partition is "≥ 2 distinct docs", the same
    # threshold-2 rewrite as the line dedup's.
    assert LINE_MIN_OCCUR == 2
    wh = Window.partitionBy("h")
    dup = (
        spans.withColumn("__dmin", F.min("doc_id").over(wh))
        .withColumn("__dmax", F.max("doc_id").over(wh))
        .filter(F.col("__dmin") != F.col("__dmax"))
        .select("doc_id", "p")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = (
        dup.withColumn("lag_p", F.lag("p").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("lag_p").isNull() | (F.col("p") - F.col("lag_p") > ESS_L), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    # One two-level aggregation chain: the island rollup carries the
    # dup-position count along (sum of per-island counts ≡ the count
    # a separate dup groupBy would produce), so the per-doc stats are
    # one groupBy + ONE join instead of two of each — one fewer pass
    # over the duplicate-position table, already doc_id-partitioned
    # from the islands window.
    per_island = isl.groupBy("doc_id", "island").agg(
        F.count("*").alias("n_in_island"),
        (F.max("p") - F.min("p") + ESS_L).alias("tok_span"),
    )
    per_doc = per_island.groupBy("doc_id").agg(
        F.sum("n_in_island").cast("bigint").alias("n_dup_spans"),
        F.count("*").alias("n_islands"),
        F.sum("tok_span").cast("bigint").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tok")
        .withColumn(
            "n_spans",
            F.greatest(F.col("n_tok") - ESS_L + 1, F.lit(0)).cast("bigint"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tokens"),
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("n_islands", F.lit(0)).cast("bigint").alias("n_islands"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.greatest(F.col("n_tok"), F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


ORACLE_EXACT_SUBSTR_SPANS = f"""
WITH t AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
base AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t),
spans AS (
  SELECT doc_id, p,
         md5(array_to_string(list_slice(toks, p, p + {ESS_L} - 1), ' ')) AS h
  FROM (
    SELECT doc_id, toks, unnest(range(1, n_tok - {ESS_L} + 2)) AS p
    FROM base WHERE n_tok >= {ESS_L}
  )
),
hot AS (
  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
dup AS (SELECT doc_id, p FROM spans JOIN hot USING (h)),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN lag_p IS NULL OR p - lag_p > {ESS_L} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (
    SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS lag_p
    FROM dup
  )
),
per_island AS (
  SELECT doc_id, island, max(p) - min(p) + {ESS_L} AS tok_span
  FROM isl GROUP BY doc_id, island
),
pdd AS (SELECT doc_id, count(*) AS n_dup_spans FROM dup GROUP BY doc_id),
pdi AS (
  SELECT doc_id, count(*) AS n_islands,
         CAST(sum(tok_span) AS BIGINT) AS dup_tokens
  FROM per_island GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(greatest(n_tok - {ESS_L} + 1, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(n_islands, 0) AS BIGINT) AS n_islands,
       CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / greatest(n_tok, 1), 6)
         AS dup_ratio
FROM base b
LEFT JOIN pdd ON b.doc_id = pdd.doc_id
LEFT JOIN pdi ON b.doc_id = pdi.doc_id
"""


SPECS = [
    QuerySpec("doc_profile", q_doc_profile, _oracle_doc_profile(),
              "one-scan document profiler: tokens/quality/lang/fingerprints/"
              "repetition/simhash/hash-embedding/unigram-LM", headline=True),
    # Third round-6 rotation: unit_quality_classifier /
    # unit_span_corruption / unit_lm_perplexity_filter (each green r5)
    # yield their seats to three never-driver-checked per-metric text
    # ops; the r5 singles stay oracle-true in UNIT_SPECS below.
    QuerySpec("unit_tfidf_top_terms", q_tfidf_top_terms,
              ORACLE_TFIDF_TOP_TERMS, "top-K TF-IDF terms per doc"),
    QuerySpec("unit_decontaminate", q_decontaminate, _oracle_decontaminate(),
              "benchmark decontamination: cross-split 8-gram overlap"),
    QuerySpec("unit_zipf_fit", q_zipf_fit, ORACLE_ZIPF_FIT,
              "Zipf's-law OLS fit over the top-100 corpus terms"),
]


# --- LM perplexity filter (CCNet-style) --------------------------------

# Reference-half split: docs whose seeded md5 nibble < '8' (~50%) train
# the LM; EVERY doc is scored. Seed differs from the dedup split so the
# two partitions are independent.
LM_REF_HEX = "8"
# Keep docs whose avg bigram logprob (e4 fixed point) clears this floor.
# Tuned so the sf0.01 fixture trips BOTH ways (sf0.01 scores span
# [-3.63, -3.21]; the synthetic corpus is much more homogeneous than a
# crawl, so the floor sits inside that band rather than at a
# real-world ~-6.5).
LM_KEEP_E4 = -34000


def q_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filter (CCNet, Wenzek et al. 2020 — the
    KenLM stage re-expressed): train an add-one-smoothed bigram model
    on a deterministic ~50% reference split of the corpus, score every
    doc's average log P(w2|w1) under it, and keep docs clearing a fixed
    floor. Unlike ``q_text_bigram_logprob`` (MLE on the full corpus,
    every bigram in-model by construction) the scored side here sees
    UNSEEN bigrams, so Laplace smoothing over the reference vocabulary
    V is load-bearing: P = (c(w1,w2)+1) / (c(w1)+V), with c=0 for
    novel bigrams/contexts — word-salad docs pay ~ln(1/V) per bigram.

    Cross-engine exactness: per-bigram logprobs rounded to 4 then
    summed in DECIMAL; the per-doc average and the keep decision are
    the suite's exact-integer rounding trick (no float boundary).

    Scale: bigram counts / context totals / vocab are map-side-
    combining aggregations over the reference half; the model joins
    back on ``bg`` and ``w1`` — vocabulary-sized dimension joins left
    UNHINTED so AQE broadcasts them when they fit under the threshold
    and falls back to a key-partitioned shuffle when the reference
    vocabulary outgrows it (the model tables scale with corpus
    vocabulary, so a forced broadcast would OOM the driver at 100×);
    the vocab size is a broadcast 1-row scalar. One linear scan each
    side."""
    from ..operators.dedup import word_shingles

    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    is_ref = (
        F.substring(
            F.md5(F.concat(F.lit("lm|"), F.col("doc_id").cast("string"))), 1, 1
        )
        < LM_REF_HEX
    )
    ref = toks.filter(is_ref)
    c_big = (
        ref.select(F.explode(word_shingles(F.col("toks"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("cb"))
    )
    c_w1 = (
        c_big.withColumn("w1", F.substring_index("bg", " ", 1))
        .groupBy("w1")
        .agg(F.sum("cb").alias("cw"))
    )
    vocab = ref.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    big = (
        toks.select(
            "doc_id", F.explode(word_shingles(F.col("toks"), 2)).alias("bg")
        )
        .withColumn("w1", F.substring_index("bg", " ", 1))
    )
    lp = F.round(
        F.log(
            (F.coalesce(F.col("cb"), F.lit(0)) + 1)
            / (F.coalesce(F.col("cw"), F.lit(0)) + F.col("vocab")).cast("double")
        ),
        4,
    )
    per = (
        big.join(c_big, "bg", "left")
        .join(c_w1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("lp").cast("decimal(18,4)")).alias("sum_lp"),
        )
        .withColumn("s_e4", (F.col("sum_lp") * 10000).cast("bigint"))
    )
    a_e4 = F.expr(
        "(CASE WHEN s_e4 < 0 THEN -1 ELSE 1 END)"
        " * ((2 * abs(s_e4) + n_bigrams) DIV (2 * n_bigrams))"
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        (a_e4.cast("double") / 10000).alias("avg_logprob"),
        (a_e4 >= F.lit(LM_KEEP_E4)).alias("keep"),
    )


ORACLE_LM_PERPLEXITY_FILTER = f"""
WITH t AS (
  SELECT doc_id, {_tokens_sql('text')} AS toks FROM documents
),
tt AS (SELECT * FROM t WHERE len(toks) >= 2),
ref AS (
  SELECT * FROM tt
  WHERE substr(md5('lm|' || CAST(doc_id AS VARCHAR)), 1, 1) < '{LM_REF_HEX}'
),
c_big AS (
  SELECT bg, count(*) AS cb FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM ref
  ) GROUP BY bg
),
c_w1 AS (
  SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cw FROM c_big GROUP BY 1
),
v AS (
  SELECT count(DISTINCT tok) AS vocab
  FROM (SELECT unnest(toks) AS tok FROM ref)
),
big AS (
  SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i + 1])) AS bg
    FROM tt
  )
),
per AS (
  SELECT doc_id, count(*) AS n_bigrams,
         CAST(SUM(CAST(ROUND(ln((COALESCE(cb, 0) + 1)
                / CAST(COALESCE(cw, 0) + vocab AS DOUBLE)), 4)
              AS DECIMAL(18,4))) * 10000 AS BIGINT) AS s_e4
  FROM big
  LEFT JOIN c_big USING (bg)
  LEFT JOIN c_w1 USING (w1)
  CROSS JOIN v
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       a_e4 / 10000.0 AS avg_logprob,
       a_e4 >= {LM_KEEP_E4} AS keep
FROM (
  SELECT doc_id, n_bigrams,
         (CASE WHEN s_e4 < 0 THEN -1 ELSE 1 END)
           * ((2 * abs(s_e4) + n_bigrams) // (2 * n_bigrams)) AS a_e4
  FROM per
)
"""


SPECS += [
    # round 6 rotation: the never-driver-checked classifier gains table
    # takes unit_km_survival's slot (driver-green r5, now unit surface).
    QuerySpec("unit_score_lift", q_score_lift, _oracle_score_lift(),
              "score-band gains/lift table for the quality classifier"),
]


# Unit operator surface: the per-metric text queries consolidated into
# doc_profile for the driver window. Parity-tested locally so each
# standalone operator stays executable and oracle-true.
UNIT_SPECS = [
    # rotated out in the third round-6 rotation (driver-green r5;
    # pytest oracles keep them true):
    QuerySpec("unit_quality_classifier", q_quality_classifier,
              _oracle_quality_classifier(),
              "linear BoW quality-model scoring, integer-exact logits"),
    QuerySpec("unit_span_corruption", q_span_corruption, ORACLE_SPAN_CORRUPTION,
              "T5 span-corruption (input, target) example generation"),
    QuerySpec("unit_lm_perplexity_filter", q_lm_perplexity_filter,
              ORACLE_LM_PERPLEXITY_FILTER,
              "CCNet-style add-one bigram-LM perplexity keep/drop filter"),
    # rotated out of the driver window in round 5 (driver-green in r4;
    # pytest oracles keep them true, bench keeps timing the headliners):
    # rotated out in the second round-6 rotation (driver-green r5):
    QuerySpec("unit_boilerplate_blocks", q_boilerplate_blocks,
              ORACLE_BOILERPLATE_BLOCKS,
              "cross-document boilerplate block detection (block-hash dedup)"),
    QuerySpec("unit_line_dedup_rewrite", q_line_dedup_rewrite,
              ORACLE_LINE_DEDUP_REWRITE,
              "C4 line dedup with hash-verified document rewrite",
              headline=True),
    QuerySpec("unit_exact_substr_spans", q_exact_substr_spans,
              ORACLE_EXACT_SUBSTR_SPANS,
              "ExactSubstr-style duplicated-span islands per doc",
              headline=True),
    QuerySpec("unit_bm25_topk", q_bm25_topk, ORACLE_BM25_TOPK,
              "Okapi BM25 top-K retrieval for a fixed query term set",
              headline=True),
    QuerySpec("unit_bpe_merges", q_bpe_merges, _oracle_bpe_merges(),
              "BPE merge learning: 3 declarative rounds, no collect"),
    QuerySpec("unit_phrase_search", q_phrase_search, ORACLE_PHRASE_SEARCH,
              "positional posting-list phrase search"),
    QuerySpec("unit_bpe_encode", q_bpe_encode, _oracle_bpe_encode(),
              "tokenizer application: per-doc subword counts + ratio"),
    QuerySpec("unit_text_tokens", q_text_tokens, ORACLE_TEXT_TOKENS,
              "whitespace + BPE-ish token counts"),
    QuerySpec("unit_text_quality", q_text_quality, ORACLE_TEXT_QUALITY,
              "length/punct/stopword quality signals"),
    QuerySpec("unit_lang_id", q_lang_id, ORACLE_LANG_ID,
              "stopword-hit language ID"),
    QuerySpec("unit_langid_confusion", q_langid_confusion,
              ORACLE_LANGID_CONFUSION,
              "confusion matrix + recall of the shipped lang-ID"),
    QuerySpec("unit_doc_fingerprint", q_doc_fingerprint, ORACLE_DOC_FINGERPRINT,
              "exact + min-shingle content fingerprints"),
    QuerySpec("unit_text_unigram_logprob", q_text_unigram_logprob,
              ORACLE_TEXT_UNIGRAM_LOGPROB, "corpus unigram-LM avg logprob"),
    QuerySpec("unit_text_repetition", q_text_repetition,
              ORACLE_TEXT_REPETITION, "trigram repetition ratio"),
    QuerySpec("unit_text_hash_embeddings", q_text_hash_embeddings,
              ORACLE_TEXT_HASH_EMBEDDINGS, "hashing-trick BoW embedding"),
    QuerySpec("unit_text_bigram_logprob", q_text_bigram_logprob,
              ORACLE_TEXT_BIGRAM_LOGPROB, "corpus bigram-LM avg log P(w2|w1)"),
    # unit_tfidf_top_terms / unit_decontaminate / unit_zipf_fit moved
    # to the driver window in the third round-6 rotation.
    QuerySpec("unit_cms_counts", q_cms_counts, ORACLE_CMS_COUNTS,
              "count-min sketch term counts, deterministic hash family"),
    QuerySpec("unit_text_entropy", q_text_entropy, ORACLE_TEXT_ENTROPY,
              "character-level Shannon entropy (gibberish detector)"),
    QuerySpec("unit_corpus_outlier_docs", q_corpus_outlier_docs,
              ORACLE_CORPUS_OUTLIER_DOCS,
              "per-source robust-z token-count outlier docs"),
    QuerySpec("unit_ngram_novelty", q_ngram_novelty, ORACLE_NGRAM_NOVELTY,
              "crawl-order marginal-novelty ratio per doc"),
    QuerySpec("unit_vocab_coverage", q_vocab_coverage, ORACLE_VOCAB_COVERAGE,
              "frozen top-K vocab OOV-rate audit per doc"),
    QuerySpec("unit_source_reputation", q_source_reputation,
              ORACLE_SOURCE_REPUTATION,
              "per-source curation rollup: counts + exact mean quality"),
    # rotated out in the second round-5 rotation (driver-green r1-r4):
    QuerySpec("text_chunks", q_text_chunks, ORACLE_TEXT_CHUNKS,
              "sliding-window passage chunking (64/16 overlap)"),
    QuerySpec("doc_redact", q_doc_redact, ORACLE_DOC_REDACT,
              "PII redaction: URL/email/phone → tokens, per-class counts"),
]

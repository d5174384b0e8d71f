"""Training-dataset assembly operators over ``documents`` (north-star ops).

The ops a large-scale LLM-training data pipeline runs after cleaning /
dedup, each expressed Spark-first and each with an exact DuckDB oracle:

- **dedup_groups**: connected components over the verified MinHash-LSH
  near-dup pairs — turns pairwise matches into canonical-document
  assignments (the step that actually deletes duplicates).
  Large-star/small-star contraction in Spark; transitive-closure
  recursive CTE in the oracle.
- **hash_split**: deterministic train/val/test assignment from a keyed
  md5 bucket — reproducible across runs/engines/cluster sizes, no RNG
  state, content-independent (so re-crawled text can't hop splits).
- **stratified_sample**: per-stratum top-N by md5 order — a deterministic
  "random" sample with exact per-stratum counts (hash order is
  uncorrelated with any data attribute).
- **pack_sequences**: concat-and-chunk packing — per shard, documents are
  concatenated in deterministic hash order and cut into fixed
  ``CONTEXT_TOKENS`` windows; each doc reports its window span (GPT-style
  packing; window assignment is pure prefix-sum arithmetic, no fold).
- **vocab_table**: frequency-ranked token→id dictionary (count desc,
  token asc — fully deterministic ids).
- **token_budget_sample**: per-source cap measured in TOKENS (prefix-sum
  cutoff in md5 order, cut at doc boundaries) — how training corpora are
  actually budgeted.
- **dataset_mixture**: downsample each language to hit target mix
  proportions (the data-mixing step before training) — the feasible
  corpus size is ``min(n_lang / weight_lang)`` (largest total that
  honors every weight without upsampling), per-language quotas are
  ``floor(t * weight)``, and selection inside a language is the
  deterministic md5 order.

Scale notes: every op here is one scan plus at most one shuffle (window
partition or groupBy); dedup_groups adds O(log component diameter)
contraction rounds over the near-dup EDGE set (≪ corpus; the pair graph of a
deduplicated corpus is sparse by construction).  At 100 TB none of these
touch the payload column except pack_sequences' token count, which rides
the same scan as the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from retail_sales_project_bigdata_spark.functions import pround
from retail_sales_project_bigdata_spark.operators.dedup import (
    MINHASH_LSH_PAIRS_SQL,
    minhash_lsh_pairs,
)
from retail_sales_project_bigdata_spark.operators.graph import (
    connected_components_star,
)
from retail_sales_project_bigdata_spark.sources import fan_out, read_table

TRAIN_PCT = 80
VAL_PCT = 10  # remainder is test
SAMPLE_PER_STRATUM = 50
CONTEXT_TOKENS = 256


def _doc_hash(col: str = "doc_id") -> F.Column:
    """Deterministic engine-portable per-key hash: md5 of the decimal
    string.  (xxhash64 would be cheaper but is Spark-specific; md5-of-
    string is identical in DuckDB, which keeps these ops oracle-exact.)"""
    return F.md5(F.col(col).cast("string").cast("binary"))


_DOC_HASH_SQL = "md5(CAST(doc_id AS VARCHAR))"


def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document assignment: connected components over the
    MinHash-LSH verified near-dup pairs; every doc in a component maps to
    the component's minimum doc_id.

    Spark shape: large-star/small-star contraction
    (``graph.connected_components_star``) over the pair list —
    O(log diameter) rounds, so long near-dup chains (template and
    boilerplate families) cost a few rounds, not one per hop.  Its
    recursive-CTE oracle (``DEDUP_GROUPS_SQL``) value-checks the
    contraction against DuckDB's transitive closure.
    """
    edges = minhash_lsh_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components_star(edges, src="d1", dst="d2")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("canonical_id"),
    )


DEDUP_GROUPS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT d1, d2 FROM ({MINHASH_LSH_PAIRS_SQL})
),
und AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS canonical_id
FROM reach
GROUP BY a
"""


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keep/drop manifest — the artifact a dedup stage actually
    ships: every document with its canonical id (its near-dup
    component's minimum, or itself when unique) and a keep flag (a doc
    survives iff it IS the canonical).

    Shape: the connected-components labels (computed over the near-dup
    EDGE set only — ≪ corpus) broadcast-join back onto the full document
    list; docs outside any component pass through untouched.  This is
    the join every 100 TB dedup ends with: tiny label table × full
    corpus, map-side."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    labels = dedup_groups(spark, sf_dir).withColumnRenamed(
        "canonical_id", "comp_min"
    )
    return docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        "source",
        F.coalesce("comp_min", "doc_id").alias("canonical_id"),
        F.when(
            F.coalesce("comp_min", "doc_id") == F.col("doc_id"), 1
        )
        .otherwise(0)
        .alias("keep"),
    )


DEDUP_SURVIVORS_SQL = f"""
WITH labels AS ({DEDUP_GROUPS_SQL})
SELECT d.doc_id, d.source,
       COALESCE(l.canonical_id, d.doc_id) AS canonical_id,
       CASE WHEN COALESCE(l.canonical_id, d.doc_id) = d.doc_id
            THEN 1 ELSE 0 END AS keep
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
"""


def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5(doc_id) mod 100 buckets —
    {TRAIN_PCT}/{VAL_PCT}/rest.  Map-only at any scale; the assignment is
    stable under re-runs, engine changes, and repartitioning (properties
    engine-native RNG splits do not have)."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(_doc_hash(), 1, 8), 16, 10).cast("long") % 100
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


HASH_SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr({_DOC_HASH_SQL}, 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
            WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: top {SAMPLE_PER_STRATUM} docs per
    ``source`` in md5 order (doc_id tiebreak).

    Scale: sources are FEW — a per-source window would sort each whole
    stratum in one task (AQE splits skewed joins, not windows), so the
    rank comes from :func:`ranking.grouped_row_number` (range exchange
    over (source, md5, doc_id) + per-partition local ranks + broadcast
    per-source offsets): a billion-row stratum spreads across the
    cluster."""
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_topk_rank,
    )

    docs = read_table(spark, sf_dir, "documents")
    ranked = grouped_topk_rank(
        docs.select("doc_id", "source", _doc_hash().alias("_h")),
        ["source"],
        [F.asc("_h"), F.asc("doc_id")],
        "sample_rank",
        SAMPLE_PER_STRATUM,
    )
    return ranked.select("doc_id", "source", "sample_rank")


STRATIFIED_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY {_DOC_HASH_SQL}, doc_id) AS sample_rank
  FROM documents
)
SELECT doc_id, source, sample_rank
FROM ranked WHERE sample_rank <= {SAMPLE_PER_STRATUM}
"""


PRIORITY_SAMPLE_K = 25  # kept items per source stratum


def priority_sample_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling without replacement per ``source`` — priority
    sampling (Duffield, Lund & Thorup, "Priority sampling for estimation
    of arbitrary subset sums", JACM 2007): each item draws a uniform
    ``u`` and gets priority ``u / w``; the k smallest priorities per
    stratum form the sample, so heavier items (here ``n_chars`` — the
    doc's size as its selection weight) are proportionally more likely
    to survive.  This is how a curation pipeline takes a size-weighted
    corpus sample deterministically: re-runs, engines, and cluster
    layouts all pick the same docs.

    Determinism/exactness: ``u`` is 60 bits of the md5 of the doc id
    (engine-portable), the priority is a SINGLE IEEE division of that
    exact integer by the integer weight — bit-identical in Spark and
    DuckDB (see the single-division rule in ``functions``) — and ties
    break on doc_id.

    Scale: sources are FEW, so the per-stratum rank uses
    :func:`ranking.grouped_row_number` (range exchange + local ranks +
    broadcast offsets), not a single-task window; everything else is
    map-only off the corpus scan.
    """
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_topk_rank,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    pri = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").alias("weight"),
        (
            F.conv(F.substring(_doc_hash(), 1, 15), 16, 10).cast("long")
            / F.col("n_chars")
        ).alias("priority"),
    )
    ranked = grouped_topk_rank(
        pri,
        ["source"],
        [F.asc("priority"), F.asc("doc_id")],
        "sample_rank",
        PRIORITY_SAMPLE_K,
    )
    return ranked.select(
        "doc_id", "source", "weight", "priority", "sample_rank"
    )


PRIORITY_SAMPLE_BY_SOURCE_SQL = f"""
WITH pri AS (
  SELECT doc_id, source, n_chars AS weight,
         CAST(CAST(('0x' || substr({_DOC_HASH_SQL}, 1, 15)) AS BIGINT) AS DOUBLE)
           / n_chars AS priority
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT doc_id, source, weight, priority,
         ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY priority, doc_id) AS sample_rank
  FROM pri
)
SELECT doc_id, source, weight, priority, sample_rank
FROM ranked WHERE sample_rank <= {PRIORITY_SAMPLE_K}
"""


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing: per ``source`` shard, documents are
    concatenated in deterministic md5 order and cut into
    {CONTEXT_TOKENS}-token windows; each doc reports its start offset and
    window span.  Window assignment is an exclusive prefix sum.

    Scale: shards (sources) are FEW, so the prefix sum uses the
    distributed two-phase :func:`ranking.grouped_prefix_sum` (range
    exchange + per-partition running sums + broadcast per-source
    offsets) — exact for the integer token counts at any split — instead
    of a per-source window whose whole stratum lands on one task."""
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_prefix_sum,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        _doc_hash().alias("_h"),
        F.size(F.split(F.col("text"), "[ ]+")).cast("long").alias("n_tokens"),
    )
    out = grouped_prefix_sum(
        toks,
        ["source"],
        [F.asc("_h"), F.asc("doc_id")],
        "n_tokens",
        "start_tok",
        exclusive=True,
    ).select("doc_id", "source", "n_tokens", "start_tok")
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_tok",
        F.expr(f"start_tok DIV {CONTEXT_TOKENS}").alias("start_window"),
        F.expr(
            f"(start_tok + n_tokens - 1) DIV {CONTEXT_TOKENS}"
        ).alias("end_window"),
        (
            F.expr(f"start_tok DIV {CONTEXT_TOKENS}")
            != F.expr(f"(start_tok + n_tokens - 1) DIV {CONTEXT_TOKENS}")
        )
        .cast("int")
        .alias("straddles"),
    )


PACK_SEQUENCES_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(text, '[ ]+')) AS BIGINT) AS n_tokens
  FROM documents
),
pre AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY {_DOC_HASH_SQL}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) - n_tokens AS start_tok
  FROM toks
)
SELECT doc_id, source, n_tokens, start_tok,
       start_tok // {CONTEXT_TOKENS} AS start_window,
       (start_tok + n_tokens - 1) // {CONTEXT_TOKENS} AS end_window,
       CAST(start_tok // {CONTEXT_TOKENS}
            <> (start_tok + n_tokens - 1) // {CONTEXT_TOKENS} AS INT) AS straddles
FROM pre
"""


def vocab_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked token→id dictionary: tokens ordered by (count
    desc, token asc) get dense ids — the vocab-building step of a
    tokenizer pipeline.  Explode + count is map-side-combined.

    Scale (VERDICT r1 item 1): "vocabulary-sized" is NOT bounded for a
    web corpus (the distinct-token domain runs to billions), so the id
    assignment uses the two-phase :func:`ranking.global_row_number`
    (range exchange + partitioned window + broadcast prefix-sum offsets)
    instead of a global single-task ``row_number`` window.  Values are
    identical (the ordering is total: count desc, token asc with unique
    tokens); the SQL oracle keeps the ROW_NUMBER formulation."""
    from retail_sales_project_bigdata_spark.operators.ranking import (
        global_row_number,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), "[ ]+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    ranked = global_row_number(
        counts, [F.desc("n_occurrences"), F.asc("token")], "_rn"
    )
    return ranked.withColumn("token_id", F.col("_rn") - 1).drop("_rn")


VOCAB_TABLE_SQL = """
WITH counts AS (
  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '[ ]+')) AS t
        FROM documents)
  GROUP BY t
)
SELECT token, n_occurrences,
       ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) - 1 AS token_id
FROM counts
"""


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: train-split documents that share any
    word-3-gram shingle with a test-split document (the n-gram collision
    check run before training to keep benchmark text out of the corpus).

    Shape: the split assignment (a pure hash expression) joins onto the
    exploded shingle frame, then train-side shingles equi-join test-side
    shingles — identical physics to the Jaccard pair join, but the probe
    side (test/benchmark set) is tiny by definition, so at 100 TB this
    broadcasts the benchmark shingle set and the check is a map-only
    filter over the train corpus."""
    sh = _shingles_with_split(spark, sf_dir)
    train = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "s"
    )
    test = sh.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "s"
    )
    return (
        train.join(F.broadcast(test), "s")
        .groupBy("train_doc_id", "test_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def _shingles_with_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_sales_project_bigdata_spark.operators.dedup import _shingles

    bucket = (
        F.conv(F.substring(_doc_hash(), 1, 8), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        _shingles(spark, sf_dir)
        .withColumn("split", split)
        .select("doc_id", "split", F.explode("shingles").alias("s"))
    )


CONTAMINATION_CHECK_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles,
         CAST(('0x' || substr({_DOC_HASH_SQL}, 1, 8)) AS BIGINT) % 100 AS bucket
  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[ ]+') AS t
        FROM documents)
  WHERE len(t) >= 3
),
ex AS (
  SELECT doc_id,
         CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
              WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         unnest(shingles) AS s
  FROM sh
)
SELECT tr.doc_id AS train_doc_id, te.doc_id AS test_doc_id,
       COUNT(*) AS n_shared_shingles
FROM (SELECT * FROM ex WHERE split = 'train') tr
JOIN (SELECT * FROM ex WHERE split = 'test') te ON tr.s = te.s
GROUP BY tr.doc_id, te.doc_id
"""


# Quality-funnel stage predicates, applied CUMULATIVELY in order.  Each
# entry: (stage_name, SQL boolean over the per-doc feature frame) — the
# same string compiles into the Spark plan (F.expr) and the oracle.
FUNNEL_STAGES: list[tuple[str, str]] = [
    ("ingested", "TRUE"),
    ("len_ok", "n_tokens >= 10"),
    ("alpha_ok", "n_alpha * 2 >= n_chars"),
    ("lang_known", "lang <> 'unknown'"),
]


def quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage retention accounting for a cleaning chain: one scan,
    conditional aggregation per cumulative stage (no unions, no repeated
    passes) — the ablation report every dataset build publishes.  Output:
    stage, docs surviving, tokens surviving, retention vs ingested."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    feats = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.col("text")), "[ ]+")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).alias(
            "n_alpha"
        ),
    )
    # ONE aggregate emits every stage's conditional (docs, tokens) pair
    # as columns; inline(array(struct...)) pivots the single row to one
    # row per stage — genuinely one scan (a per-stage agg + union would
    # re-run the regex-heavy feature projection once per stage).
    cumulative = []
    agg_cols = []
    for i, (stage, pred) in enumerate(FUNNEL_STAGES):
        cumulative.append(f"({pred})")
        keep = F.expr(" AND ".join(cumulative))
        agg_cols.append(F.sum(keep.cast("long")).alias(f"d{i}"))
        agg_cols.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).alias(
                f"t{i}"
            )
        )
    one_row = feats.agg(*agg_cols)
    stage_structs = F.array(
        *[
            F.struct(
                F.lit(stage).alias("stage"),
                F.col(f"d{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
            )
            for i, (stage, _) in enumerate(FUNNEL_STAGES)
        ]
    )
    from retail_sales_project_bigdata_spark.functions import pround

    return one_row.select(
        F.col("d0").alias("total_docs"), F.inline(stage_structs)
    ).select(
        "stage",
        "n_docs",
        "n_tokens",
        pround(F.col("n_docs") / F.col("total_docs"), 6).alias("retention"),
    )


def _funnel_sql() -> str:
    cumulative = []
    selects = []
    for stage, pred in FUNNEL_STAGES:
        cumulative.append(f"({pred})")
        keep = " AND ".join(cumulative)
        selects.append(
            f"SELECT '{stage}' AS stage,\n"
            f"       CAST(SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,\n"
            f"       CAST(SUM(CASE WHEN {keep} THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens\n"
            "FROM feats"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH feats AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(lower(text), '[ ]+')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
  FROM documents
),
stages AS (
{union}
)
SELECT stage, n_docs, n_tokens,
       ROUND(CAST(n_docs AS DOUBLE)
             / (SELECT n_docs FROM stages WHERE stage = 'ingested'), 6)
           AS retention
FROM stages
"""


QUALITY_FUNNEL_SQL = _funnel_sql()


CHUNK_WORDS = 32
CHUNK_STRIDE = 24  # 8-word overlap between consecutive chunks


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: each doc explodes into
    {CHUNK_WORDS}-word chunks at stride {CHUNK_STRIDE} (overlapping) —
    the standard context-window preparation step for LLM training corpora
    (vs :func:`pack_sequences`, which concatenates docs to fill windows).

    Pure narrow ops: split → per-doc start grid (``sequence``) → explode
    → slice/join.  No shuffle at all — the explode fans out within the
    scan partition, so at 100 TB this runs as a map-only pass whose
    output partitioning follows the input."""
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    return (
        docs.select(
            "doc_id",
            words.alias("words"),
            F.size(words).alias("n_words"),
        )
        .select(
            "doc_id",
            "words",
            "n_words",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("n_words") - 1, F.lit(0)),
                    F.lit(CHUNK_STRIDE),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("words"), F.col("start") + 1, CHUNK_WORDS), " "
            ).alias("chunk_text"),
            F.least(
                F.col("n_words") - F.col("start"), F.lit(CHUNK_WORDS)
            ).alias("chunk_words"),
        )
    )


# Per-source token budget for token_budget_sample.
TOKEN_BUDGET = 2000


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: per ``source``, keep documents in
    deterministic md5 order until the cumulative token count reaches
    {TOKEN_BUDGET} tokens — the budget is measured in TOKENS, not docs
    (how training corpora are actually capped).  The last kept doc may
    straddle the budget (cut-at-doc-boundary semantics: a doc is kept iff
    the budget wasn't already exhausted BEFORE it).

    Scale shape: identical to pack_sequences — the cutoff is an exclusive
    prefix sum compared to a constant, computed with the distributed
    two-phase :func:`ranking.grouped_prefix_sum` (sources are few; a
    per-source window would single-task each stratum)."""
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_prefix_sum,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        _doc_hash().alias("_h"),
        F.size(F.split(F.col("text"), "[ ]+")).cast("long").alias("n_tokens"),
    )
    return (
        grouped_prefix_sum(
            toks,
            ["source"],
            [F.asc("_h"), F.asc("doc_id")],
            "n_tokens",
            "tokens_before",
            exclusive=True,
        )
        .filter(F.col("tokens_before") < TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "tokens_before")
    )


TOKEN_BUDGET_SAMPLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(text, '[ ]+')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY {_DOC_HASH_SQL}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS BIGINT) AS tokens_before
  FROM toks
)
SELECT doc_id, source, n_tokens, tokens_before
FROM cum WHERE tokens_before < {TOKEN_BUDGET}
"""


# Target language-mix proportions for dataset_mixture (sums to 1).
MIX_WEIGHTS = {"en": 0.4, "zh": 0.2, "es": 0.2, "de": 0.1, "fr": 0.1}


def dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix downsampling: keep the largest corpus whose language
    proportions match ``MIX_WEIGHTS`` without upsampling any language.

    Feasible total ``t = min(n_lang / weight_lang)``; per-language quota
    ``floor(t * weight)``; the kept docs are the quota-smallest by md5
    order (deterministic "random").  Scale shape: one count aggregate
    (lang-sized), quotas broadcast back, one window shuffle on ``lang``
    for the rank — the corpus is scanned twice but shuffled once, and the
    rank sort is per-language with AQE covering hot languages."""
    docs = read_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        sorted(MIX_WEIGHTS.items()), "lang string, weight double"
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # LEFT join FROM weights: a weighted language absent from the corpus
    # must zero the feasible total (t = min includes 0/weight = 0), not
    # silently drop out of the min — "honors every weight" is the
    # contract; with a missing language the only mixture that does is
    # the empty one.
    feas = (
        weights.join(counts, "lang", "left")
        .withColumn("n_docs", F.coalesce("n_docs", F.lit(0)))
        .agg(F.min(F.col("n_docs") / F.col("weight")).alias("t"))
    )
    quotas = weights.crossJoin(F.broadcast(feas)).select(
        "lang",
        F.floor(F.col("t") * F.col("weight")).cast("long").alias("quota"),
    )
    # languages are FEW: per-lang ranking goes through the two-phase
    # grouped formulation (one task per lang would own a billion-row
    # stratum otherwise — same hazard class as the global windows).
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_row_number,
    )

    ranked = grouped_row_number(
        docs.select("doc_id", "lang", _doc_hash().alias("_h")),
        ["lang"],
        [F.asc("_h"), F.asc("doc_id")],
        "mix_rank",
    ).select("doc_id", "lang", "mix_rank")
    return ranked.join(F.broadcast(quotas), "lang").filter(
        F.col("mix_rank") <= F.col("quota")
    ).select("doc_id", "lang", "mix_rank", "quota")


_MIX_WEIGHTS_SQL = ", ".join(
    f"('{lang}', {wt})" for lang, wt in sorted(MIX_WEIGHTS.items())
)

DATASET_MIXTURE_SQL = f"""
WITH weights AS (
  SELECT * FROM (VALUES {_MIX_WEIGHTS_SQL}) AS w(lang, weight)
), counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), feas AS (
  SELECT MIN(COALESCE(n_docs, 0) / weight) AS t
  FROM weights LEFT JOIN counts USING (lang)
), quotas AS (
  SELECT w.lang, CAST(FLOOR(f.t * w.weight) AS BIGINT) AS quota
  FROM weights w, feas f
), ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {_DOC_HASH_SQL}, doc_id) AS mix_rank
  FROM documents
)
SELECT r.doc_id, r.lang, r.mix_rank, q.quota
FROM ranked r JOIN quotas q USING (lang)
WHERE r.mix_rank <= q.quota
"""


CHUNK_DOCUMENTS_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_words
  FROM documents
),
starts AS (
  SELECT doc_id, words, n_words,
         CAST(unnest(generate_series(0, greatest(n_words - 1, 0), {CHUNK_STRIDE})) AS INT) AS start
  FROM base
)
SELECT doc_id,
       CAST(start / {CHUNK_STRIDE} AS INT) AS chunk_id,
       array_to_string(list_slice(words, start + 1, start + {CHUNK_WORDS}), ' ') AS chunk_text,
       CAST(least(n_words - start, {CHUNK_WORDS}) AS INT) AS chunk_words
FROM starts
"""


KMV_K = 64  # signature size: k smallest hash values per source


def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-slice overlap estimation via KMV (k-minimum-values)
    sketches: per ``source``, the signature is the {KMV_K} smallest
    md5 hashes of its distinct word-3-gram shingles; for each source
    pair, the Jaccard estimate is the fraction of the union's k smallest
    hashes present in both — the mergeable set-similarity sketch used to
    decide which corpus slices to dedup against each other before paying
    for MinHash-LSH on the pair.

    Deterministic end to end (md5 order), so the DuckDB oracle checks the
    ESTIMATE exactly; the exact Jaccard is computed alongside for
    calibration — at 100 TB you keep only the sketch path (signatures are
    {KMV_K} values per source, the pair math is driver-trivial) and drop
    the exact twin.

    Scale: the only corpus-sized work is distinct (source, hash) + the
    per-source signature, which uses :func:`ranking.grouped_row_number`
    (sources are few — the two-phase path, not a per-source window).
    Everything after the signature is (#sources × {KMV_K})-sized.  The
    per-pair union ranking uses a plain window because each pair's frame
    is ≤ 2·{KMV_K} rows BY CONSTRUCTION — bounded, not data-sized.
    """
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_topk_rank,
    )

    docs = fan_out(read_table(spark, sf_dir, "documents"))
    sh = (
        docs.select(
            "source", F.split(F.lower(F.col("text")), "[ ]+").alias("toks")
        )
        .filter(F.size("toks") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            ).alias("s"),
        )
    )
    dist = sh.select(
        "source",
        F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    # five consumers (signature, source list, sizes, both sides of the
    # exact-intersection join) — persist the distinct hash set once;
    # it is ~|distinct shingles per source| rows, spill-safe.
    dist = dist.persist()
    sig = grouped_topk_rank(dist, ["source"], [F.asc("h")], "rk", KMV_K)
    srcs = dist.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
    )
    cand = sig.select(F.col("source").alias("s"), "h").join(
        F.broadcast(pairs),
        (F.col("s") == F.col("s1")) | (F.col("s") == F.col("s2")),
    )
    merged = cand.groupBy("s1", "s2", "h").agg(
        (F.countDistinct("s") == 2).cast("int").alias("in_both")
    )
    w_pair = Window.partitionBy("s1", "s2").orderBy("h")
    topk = merged.withColumn("rk", F.row_number().over(w_pair)).filter(
        F.col("rk") <= KMV_K
    )
    est = topk.groupBy("s1", "s2").agg(
        pround(F.sum("in_both") / F.count(F.lit(1)), 6).alias("kmv_jaccard"),
        F.count(F.lit(1)).alias("kmv_denominator"),
    )
    sizes = dist.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        dist.alias("x")
        .join(
            dist.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("s1"), F.col("y.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ex = (
        pairs.join(inter, ["s1", "s2"], "left")
        .na.fill(0, ["n_inter"])
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("s1"), F.col("n").alias("n1")
                )
            ),
            "s1",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("s2"), F.col("n").alias("n2")
                )
            ),
            "s2",
        )
        .select(
            "s1",
            "s2",
            pround(
                F.col("n_inter")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return est.join(ex, ["s1", "s2"]).select(
        F.col("s1").alias("source_a"),
        F.col("s2").alias("source_b"),
        "kmv_jaccard",
        "kmv_denominator",
        "exact_jaccard",
    )


SOURCE_OVERLAP_KMV_SQL = f"""
WITH sh AS (
  SELECT source,
         unnest(list_transform(
             generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM (SELECT source, regexp_split_to_array(lower(text), '[ ]+') AS t
        FROM documents)
  WHERE len(t) >= 3
),
dist AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM sh
),
sig AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
    FROM dist)
  WHERE rk <= {KMV_K}
),
pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM (SELECT DISTINCT source FROM dist) a
  JOIN (SELECT DISTINCT source FROM dist) b ON a.source < b.source
),
cand AS (
  SELECT p.s1, p.s2, g.source AS s, g.h
  FROM sig g JOIN pairs p ON g.source = p.s1 OR g.source = p.s2
),
merged AS (
  SELECT s1, s2, h, CAST(COUNT(DISTINCT s) = 2 AS INT) AS in_both
  FROM cand GROUP BY s1, s2, h
),
topk AS (
  SELECT * FROM (
    SELECT s1, s2, h, in_both,
           ROW_NUMBER() OVER (PARTITION BY s1, s2 ORDER BY h) AS rk
    FROM merged)
  WHERE rk <= {KMV_K}
),
est AS (
  SELECT s1, s2,
         ROUND(CAST(SUM(in_both) AS DOUBLE) / COUNT(*), 6) AS kmv_jaccard,
         CAST(COUNT(*) AS BIGINT) AS kmv_denominator
  FROM topk GROUP BY s1, s2
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM dist GROUP BY source),
inter AS (
  SELECT x.source AS s1, y.source AS s2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM dist x JOIN dist y ON x.h = y.h AND x.source < y.source
  GROUP BY 1, 2
),
ex AS (
  SELECT p.s1, p.s2,
         ROUND(CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
               / (a.n + b.n - COALESCE(i.n_inter, 0)), 6) AS exact_jaccard
  FROM pairs p
  LEFT JOIN inter i ON p.s1 = i.s1 AND p.s2 = i.s2
  JOIN sizes a ON a.source = p.s1
  JOIN sizes b ON b.source = p.s2
)
SELECT e.s1 AS source_a, e.s2 AS source_b,
       e.kmv_jaccard, e.kmv_denominator, x.exact_jaccard
FROM est e JOIN ex x ON e.s1 = x.s1 AND e.s2 = x.s2
"""


def source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exclusivity profile: of the distinct word-3-gram
    shingle TYPES a source contributes, how many appear in NO other
    source — the curation signal that separates sources adding novel
    content from mirrors/aggregators that mostly restate the rest of the
    corpus (the complement of ``source_overlap_kmv``'s pairwise view:
    one row per source, against ALL other sources at once).

    Shape: explode shingles (narrow) → md5-compacted distinct
    (source, h) → per-hash ``(count, min(source))`` groupBy: a gram with
    count 1 is exclusive and ``min(source)`` IS its sole owner, so the
    exclusive rollup groups a pre-filtered count-1 stream by owner — the
    corpus-sized set is never re-joined by hash.  Per-source totals come
    off the persisted distinct set; the final combine is a
    (#sources)-row broadcast join.  At 100 TB nothing is materialized
    wider than (h, n, owner) — no quadratic anywhere, unlike the
    pairwise exact intersection this replaces for the "who is
    redundant" question.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    sh = (
        docs.select(
            "source", F.split(F.lower(F.col("text")), "[ ]+").alias("toks")
        )
        .filter(F.size("toks") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            ).alias("s"),
        )
    )
    dist = (
        sh.select(
            "source",
            F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
        .persist()
    )
    exclusives = (
        dist.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_sources_with"),
            F.min("source").alias("owner"),
        )
        .filter(F.col("n_sources_with") == 1)
        .groupBy(F.col("owner").alias("source"))
        .agg(F.count(F.lit(1)).alias("n_exclusive_types"))
    )
    totals = dist.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_shingle_types")
    )
    return (
        totals.join(F.broadcast(exclusives), "source", "left")
        .na.fill(0, ["n_exclusive_types"])
        .select(
            "source",
            "n_shingle_types",
            "n_exclusive_types",
            pround(
                F.col("n_exclusive_types").cast("double")
                / F.col("n_shingle_types"),
                6,
            ).alias("exclusive_share"),
        )
    )


SOURCE_NOVELTY_SQL = """
WITH sh AS (
  SELECT source,
         unnest(list_transform(
             generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM (SELECT source, regexp_split_to_array(lower(text), '[ ]+') AS t
        FROM documents)
  WHERE len(t) >= 3
),
dist AS (
  SELECT DISTINCT source,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h
  FROM sh
),
per_gram AS (
  SELECT h, COUNT(*) AS n_sources_with FROM dist GROUP BY h
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_shingle_types,
       CAST(SUM(CAST(g.n_sources_with = 1 AS BIGINT)) AS BIGINT) AS n_exclusive_types,
       ROUND(CAST(SUM(CAST(g.n_sources_with = 1 AS BIGINT)) AS DOUBLE)
             / COUNT(*), 6) AS exclusive_share
FROM dist d JOIN per_gram g USING (h)
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# JSONL ingestion value check: LLM corpora interchange as JSON Lines, so
# the engine must round-trip documents through JSONL byte-faithfully
# (escaping, unicode, nulls).  Mirrors the dunnhumby_clean_csv S1 check:
# write the documents table as JSONL, read it back with an EXPLICIT
# schema (schema-on-read, no inference pass over 100 TB), and
# value-check a per-source digest against a DuckDB oracle computed
# straight from the parquet — a hash match proves Spark's JSON
# write+read preserved every text byte and every null.
# ---------------------------------------------------------------------------

_JSONL_FIXTURE_ROOT = "/tmp/spark_graft_jsonl"

DOCUMENTS_JSONL_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def documents_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents → JSONL, read back (explicit schema), digest per
    source: row count, total chars, and an md5-sum over (doc_id, text) —
    any lost or altered byte changes the digest.

    Scale: the JSONL write/read are both splittable line-oriented scans;
    the digest is one partial-agg'd hash aggregate.  (Per-file JSON
    object-ness is what makes JSONL THE streaming-friendly corpus format
    — no footer, append-safe, trivially shardable.)

    Contract note: like ``dunnhumby_clean_csv``, this entry EAGERLY
    writes its fixture at build time (the write must precede the
    read-back the returned plan describes) — the one deliberate
    exception to the lazy-plan-builder convention, made for the two
    round-trip value checks only."""
    import os as _os

    # pid-scoped path: bench/gate/pytest may run as CONCURRENT processes
    # over the same sf (BASELINE.md's fresh-process bench protocol); a
    # shared fixture dir would let one process overwrite files another is
    # scanning.
    tag = _os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = _os.path.join(
        _JSONL_FIXTURE_ROOT, f"{tag}-{_os.getpid()}", "documents_jsonl"
    )
    read_table(spark, sf_dir, "documents").write.mode("overwrite").json(path)
    back = spark.read.schema(DOCUMENTS_JSONL_SCHEMA).json(path)
    digest = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("\x01"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.length("text")).alias("total_text_len"),
        F.sum(digest).alias("content_digest"),
    )


DOCUMENTS_JSONL_ROUNDTRIP_SQL = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len,
       CAST(SUM(CAST(('0x' || substring(
           md5(CAST(doc_id AS VARCHAR) || chr(1) || COALESCE(text, '')), 1, 8)) AS BIGINT))
         AS BIGINT) AS content_digest
FROM documents GROUP BY source
"""


def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-LM smoothing
    rule, here over ``source``): target proportions ∝ n_i^α with
    α = 0.5, i.e. rare sources are UP-weighted relative to their raw
    share, capped by no-upsampling feasibility.  The largest feasible
    mixture has per-source quota::

        quota_i = least( n_i, floor( sqrt(n_i · n_min) ) )

    where ``n_min = min_j n_j`` is the binding feasibility count — the
    smallest source is kept whole and every other source is downsampled
    toward the α-smoothed proportions.  The quota is computed on the
    EXACT integer product (not ``sqrt(n_i)·sqrt(n_min)``, whose rounding
    can land ``floor`` one below the true value — e.g. n=3:
    ``sqrt(3)² = 2.9999…`` would drop a doc from exactly the source the
    rule up-weights): for the binding source the product is a perfect
    square, so ``sqrt`` returns it exactly and the quota equals
    ``n_min``.  ``sqrt`` is IEEE correctly-rounded in both engines and
    the product is integer-exact below 2^53, so the whole selection is
    hash-exact cross-engine (the ``least`` guard covers counts beyond
    that range).

    Kept docs are the quota-smallest by md5 order per source —
    deterministic "random", same discipline as ``dataset_mixture``
    (which mixes to FIXED weights; this derives the weights from the
    counts).  Scale: one source-sized count agg broadcast back + the
    two-phase grouped ranking — no per-source single-task window.
    """
    from retail_sales_project_bigdata_spark.operators.ranking import (
        grouped_row_number,
    )

    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = counts.agg(F.min("n_docs").alias("n_min"))
    quotas = counts.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.least(
            F.col("n_docs"),
            F.floor(
                F.sqrt((F.col("n_docs") * F.col("n_min")).cast("double"))
            ).cast("long"),
        ).alias("quota"),
    )
    ranked = grouped_row_number(
        docs.select("doc_id", "source", _doc_hash().alias("_h")),
        ["source"],
        [F.asc("_h"), F.asc("doc_id")],
        "mix_rank",
    ).select("doc_id", "source", "mix_rank")
    return (
        ranked.join(F.broadcast(quotas), "source")
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select("doc_id", "source", "mix_rank", "n_docs", "quota")
    )


TEMPERATURE_MIXTURE_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), t AS (
  SELECT MIN(n_docs) AS n_min FROM counts
), quotas AS (
  SELECT c.source, c.n_docs,
         LEAST(c.n_docs,
               CAST(FLOOR(sqrt(CAST(c.n_docs * t.n_min AS DOUBLE)))
                    AS BIGINT)) AS quota
  FROM counts c, t
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY {_DOC_HASH_SQL}, doc_id) AS mix_rank
  FROM documents
)
SELECT r.doc_id, r.source, r.mix_rank, q.n_docs, q.quota
FROM ranked r JOIN quotas q USING (source)
WHERE r.mix_rank <= q.quota
"""


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datasheet: one row per source plus an ALL rollup row —
    docs, exact-dup docs and share, token/char volume, language spread —
    the "data card" table published alongside any released training set
    (Datasheets-for-Datasets shape).

    One scan computes every per-doc fact; the dup flag joins back the
    per-hash copy counts (shuffle on the 16-byte hash, the same shape as
    ``dedup_exact``); the card itself is a ``rollup`` — per-source and
    grand-total rows from ONE aggregate (Expand), not a union of two
    scans.  Shares are exact counts with a single rounded division.
    """
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "source",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split(F.lower(F.col("text")), "[ ]+"))
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
    )
    dups = per_doc.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    e = per_doc.join(dups, "text_hash")
    is_dup = (F.col("n_copies") > 1).cast("long")
    return (
        e.rollup("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).alias("n_dup_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum((F.col("lang") == "en").cast("long")).alias("_n_en"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "n_dup_docs",
            "total_tokens",
            "total_chars",
            "n_langs",
            pround(F.col("_n_en").cast("double") / F.col("n_docs"), 6).alias(
                "share_en"
            ),
            pround(
                F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_share"),
        )
    )


DATASET_CARD_SQL = """
WITH per_doc AS (
  SELECT source, lang, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(regexp_split_to_array(lower(text), '[ ]+')) AS BIGINT)
           AS n_tokens,
         md5(text) AS text_hash
  FROM documents
),
dups AS (SELECT text_hash, COUNT(*) AS n_copies FROM per_doc GROUP BY 1),
e AS (SELECT p.*, d.n_copies FROM per_doc p JOIN dups d USING (text_hash))
SELECT COALESCE(source, 'ALL') AS source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS share_en,
       ROUND(CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_share
FROM e
GROUP BY GROUPING SETS ((source), ())
"""


ORACLES: dict[str, str] = {
    "dataset_card": DATASET_CARD_SQL,
    "documents_jsonl_roundtrip": DOCUMENTS_JSONL_ROUNDTRIP_SQL,
    "temperature_mixture_sample": TEMPERATURE_MIXTURE_SAMPLE_SQL,
    "source_overlap_kmv": SOURCE_OVERLAP_KMV_SQL,
    "source_novelty": SOURCE_NOVELTY_SQL,
    "chunk_documents": CHUNK_DOCUMENTS_SQL,
    "contamination_check": CONTAMINATION_CHECK_SQL,
    "quality_funnel": QUALITY_FUNNEL_SQL,
    "dedup_groups": DEDUP_GROUPS_SQL,
    "dedup_groups_star": DEDUP_GROUPS_SQL,
    "dedup_survivors": DEDUP_SURVIVORS_SQL,
    "hash_split": HASH_SPLIT_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "priority_sample_by_source": PRIORITY_SAMPLE_BY_SOURCE_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "vocab_table": VOCAB_TABLE_SQL,
    "dataset_mixture": DATASET_MIXTURE_SQL,
    "token_budget_sample": TOKEN_BUDGET_SAMPLE_SQL,
}

QUERIES = {
    "dataset_card": dataset_card,
    "documents_jsonl_roundtrip": documents_jsonl_roundtrip,
    "temperature_mixture_sample": temperature_mixture_sample,
    "source_overlap_kmv": source_overlap_kmv,
    "source_novelty": source_novelty,
    "chunk_documents": chunk_documents,
    "contamination_check": contamination_check,
    "quality_funnel": quality_funnel,
    "dedup_groups": dedup_groups,
    "dedup_groups_star": dedup_groups,  # registry name kept; same code
    "dedup_survivors": dedup_survivors,
    "hash_split": hash_split,
    "stratified_sample": stratified_sample,
    "priority_sample_by_source": priority_sample_by_source,
    "pack_sequences": pack_sequences,
    "vocab_table": vocab_table,
    "dataset_mixture": dataset_mixture,
    "token_budget_sample": token_budget_sample,
}


def build_training_dataset(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, object]:
    """End-to-end training-corpus build — the composition the individual
    oracle-checked stages exist FOR, as one callable artifact:

    1. quality gate (``textstats.text_quality``'s is_quality rule);
    2. dedup WITHIN the quality set: near-dup component labels come from
       the corpus-wide LSH components, and the kept representative is
       the minimum QUALITY doc of each component — a component whose
       canonical happens to fail the gate still keeps its best quality
       member (the sequential quality→dedup semantics, not an
       intersection of independent flags);
    3. deterministic train/val/test assignment (``hash_split`` buckets);
    4. split-partitioned VERSIONED snapshot publish (atomic manifest
       swap — reruns never tear readers; consumers reading one split
       get partition pruning).

    Every stage metric rides the single publish job via one Observation
    attached BELOW the filters (conditional aggregates see the
    unfiltered flow) — no extra scans, no staging copy.  Returns the
    run manifest.  Unit-tested invariants: stages only shrink, splits
    partition the kept set, published layout is split-partitioned,
    rerun bumps the version without disturbing v1.
    """
    import os

    from pyspark.sql import Observation
    from pyspark.sql.window import Window as W

    from retail_sales_project_bigdata_spark.operators.textstats import (
        text_quality,
    )
    from retail_sales_project_bigdata_spark.sources import publish_versioned

    docs = read_table(spark, sf_dir, "documents")
    quality = text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "is_quality"
    )
    labels = dedup_survivors(spark, sf_dir).select("doc_id", "canonical_id")
    split = hash_split(spark, sf_dir).select("doc_id", "split")

    joined = (
        docs.join(quality, "doc_id")
        .join(labels, "doc_id")
        .join(split, "doc_id")
    )
    # Kept = minimum-doc_id QUALITY member of each near-dup component
    # (unique docs are their own component).  The window partitions by
    # component over the quality subset only.
    quality_docs = joined.filter(F.col("is_quality") == 1)
    w = W.partitionBy("canonical_id")
    flagged = quality_docs.withColumn(
        "keep",
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int"),
    )

    obs = Observation()
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("quality_docs"),
        F.sum("keep").alias("kept_docs"),
        F.sum(F.col("keep") * F.col("n_tokens")).alias("kept_tokens"),
        *[
            F.sum(
                F.when((F.col("split") == sp) & (F.col("keep") == 1), 1)
                .otherwise(0)
            ).alias(f"split_{sp}")
            for sp in ("train", "val", "test")
        ],
    )
    assembled = observed.filter(F.col("keep") == 1).select(
        "doc_id", "text", "lang", "source", "n_tokens", "canonical_id", "split"
    )
    version = publish_versioned(
        assembled, os.path.join(out_dir, "corpus"), partition_by="split"
    )

    m = dict(obs.get)
    splits = {
        sp: int(m[f"split_{sp}"] or 0) for sp in ("train", "val", "test")
    }
    return {
        "version": version,
        "n_total_docs": docs.count(),
        "n_quality_docs": int(m["quality_docs"] or 0),
        "n_kept_docs": int(m["kept_docs"] or 0),
        "kept_tokens": int(m["kept_tokens"] or 0),
        "splits": {k: v for k, v in splits.items() if v},
    }

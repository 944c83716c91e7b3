"""End-to-end training-data curation pipeline — the composite
flagship for the LLM-data extensions (SURVEY.md §2.K): one dataflow
chaining quality gate → exact dedup → per-corpus rollup, entirely in
built-in expressions.

This is the shape a pretraining data pipeline runs at 100 TB: the
quality gate is a scan-side filter (pushdown-friendly, no shuffle),
dedup shuffles 16-byte fingerprints instead of document bodies, and
the final rollup is a partial-aggregated groupBy on low-cardinality
keys. Three shuffles total, none carrying full text except the dedup
semi-join's build side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gmt_dbt_spark.catalog import table
from gmt_dbt_spark.functions.text import (  # DuckDB twin of tokens_col
    _DUCK_TOKENS,
    sql_str_list,
)
from gmt_dbt_spark.operators.dedup import shingle_rows, tokens_col
from gmt_dbt_spark.exprs import dsum
from gmt_dbt_spark.registry import query

MIN_TOKENS = 5
MIN_CHARS = 30


def quality_gate(docs: DataFrame) -> DataFrame:
    """Keep documents passing the minimum-length gate; attach the
    token count (computed once, reused downstream)."""
    t = docs.withColumn("toks", tokens_col(F.col("text")))
    return t.filter(
        (F.size("toks") >= MIN_TOKENS) & (F.length("text") >= MIN_CHARS)
    )


def dedup_keep_canonical(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per content fingerprint —
    fingerprints shuffle, bodies don't."""
    keep = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


@query(
    "pipeline_text_curation",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, text, lang, source,
         len({_DUCK_TOKENS}) AS n_tokens
  FROM documents
),
gated AS (
  SELECT * FROM toks WHERE n_tokens >= {MIN_TOKENS} AND length(text) >= {MIN_CHARS}
),
keep AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
),
deduped AS (
  SELECT g.* FROM gated g JOIN keep k ON g.doc_id = k.doc_id
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(CAST(SUM(CAST(length(text) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
         / COUNT(*) AS avg_chars
FROM deduped
GROUP BY lang, source
""",
)
def pipeline_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → quality gate → exact dedup → per-(lang, source)
    corpus statistics: the one-statement curation pipeline a
    pretraining run executes before tokenization."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    gated = quality_gate(docs).withColumn("n_tokens", F.size("toks"))
    deduped = dedup_keep_canonical(gated)
    return deduped.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (
            F.sum(F.length("text").cast("decimal(25,6)"))
            .cast("string")
            .cast("double")
            / F.count("*")
        ).alias("avg_chars"),
    )


_FP5 = "md5(array_to_string(string_split(text, ' ')[1:5], ' '))"
_EVAL_SRC = "('src0', 'src1', 'src2', 'src3', 'src4')"
EVAL_SRC_LIST = ["src0", "src1", "src2", "src3", "src4"]


def fp5_col() -> "F.Column":
    """First-5-token md5 fingerprint — the Spark twin of ``_FP5``.
    Shared by every decontamination query so the definition can never
    silently diverge between them."""
    return F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5)))


@query(
    "dedup_cross_corpus",
    oracle=f"""
SELECT t.doc_id, t.source, COUNT(DISTINCT e.doc_id) AS n_eval_matches
FROM (SELECT doc_id, source, {_FP5} AS k FROM documents
      WHERE source NOT IN {_EVAL_SRC}) t
JOIN (SELECT doc_id, {_FP5} AS k FROM documents
      WHERE source IN {_EVAL_SRC}) e
  ON t.k = e.k
GROUP BY t.doc_id, t.source
""",
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: find TRAIN documents sharing a content
    fingerprint (first-5-token md5) with any EVAL document — the
    train/test-overlap check every pretraining pipeline runs before
    training. The join carries 16-byte fingerprints, never text; the
    eval side is the small relation and broadcasts. In production the
    fingerprint set extends to shingled n-grams (the dedup.py MinHash
    machinery) — same join shape, more keys per doc."""
    docs = table(spark, sf_dir, "documents")
    eval_src = EVAL_SRC_LIST
    fp = fp5_col()
    train = docs.filter(~F.col("source").isin(eval_src)).select(
        "doc_id", "source", fp.alias("k")
    )
    ev = docs.filter(F.col("source").isin(eval_src)).select(
        F.col("doc_id").alias("eval_id"), fp.alias("k")
    )
    return (
        train.join(F.broadcast(ev), "k")
        .groupBy("doc_id", "source")
        .agg(F.countDistinct("eval_id").alias("n_eval_matches"))
    )


@query(
    "sample_stratified",
    oracle="""
SELECT doc_id, source
FROM documents
WHERE doc_id % 10 <
      CASE WHEN CAST(SUBSTRING(source, 4) AS INTEGER) % 2 = 0 THEN 2 ELSE 6 END
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: per-corpus sampling rates (20% for
    even-numbered sources, 60% for odd) applied with a DETERMINISTIC
    id-based gate — reproducible across runs/partitionings, unlike
    `df.sample`. A scan-side filter: no shuffle, prunes before any
    downstream stage. At scale the gate becomes
    `pmod(xxhash64(id), 100) < rate` for uniformity on arbitrary key
    distributions — same plan, hash instead of modulo."""
    docs = table(spark, sf_dir, "documents")
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(2)
    ).otherwise(F.lit(6))
    return docs.filter(F.col("doc_id") % 10 < rate).select("doc_id", "source")


@query(
    "text_chunk",
    oracle="""
SELECT doc_id,
       CAST(s.start AS INTEGER) AS chunk_start,
       substr(text, CAST(s.start AS INTEGER), 200) AS chunk_text,
       length(substr(text, CAST(s.start AS INTEGER), 200)) AS chunk_len
FROM documents, LATERAL (SELECT unnest(generate_series(1, n_chars, 150)) AS start) s
WHERE n_chars > 0
""",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking with overlap (200-char chunks,
    150-char stride → 50-char overlap) — the sequence-chunking step
    every pretraining pipeline runs before tokenization/packing.
    Pure built-ins: `sequence` generates chunk starts, `posexplode`
    fans out 1→N, `substring` slices — all codegen'd, the document
    body is never copied more than the overlap factor. At 100 TB the
    explode multiplies rows ~n_chars/150× but each output row is
    bounded (200 chars), so downstream partition sizes stay uniform
    regardless of input document length skew."""
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    starts = F.sequence(F.lit(1), F.col("n_chars"), F.lit(150))
    chunk = F.expr("substring(text, chunk_start, 200)")
    return (
        docs.select("doc_id", "text", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("int").alias("chunk_start"),
            chunk.alias("chunk_text"),
            F.length(chunk).alias("chunk_len"),
        )
    )


_LINE_W = 10  # tokens per synthetic "line" (fixture text has no newlines)


@query(
    "text_dedup_lines",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
),
d AS (
  SELECT doc_id,
         list_transform(range((len(tk) + {_LINE_W - 1}) // {_LINE_W}),
             i -> array_to_string(tk[i * {_LINE_W} + 1 : i * {_LINE_W} + {_LINE_W}],
                                  ' ')) AS lines
  FROM t
),
lr AS (
  SELECT d.doc_id, g.idx, d.lines[g.idx + 1] AS line,
         md5(d.lines[g.idx + 1]) AS fp
  FROM d, LATERAL (SELECT unnest(range(len(d.lines))) AS idx) g
),
k AS (
  SELECT doc_id, idx, line,
         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, idx) = 1 AS kept
  FROM lr
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY idx),
                    '')) AS cleaned_md5
FROM k GROUP BY doc_id
""",
)
def text_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-LINE removal with REWRITE (C4 §2.2: 'we
    discarded all but one of any three-sentence span occurring more
    than once') — the flagging ops (`dedup_substring`) tell you WHERE
    duplication is; this one emits the cleaned corpus: every exact
    duplicate line is kept only at its first occurrence
    ((doc_id, idx)-minimal — deterministic, not sampling-dependent),
    and each document is reassembled from its surviving lines. The
    fixture has no newlines, so a 'line' is a fixed 10-token
    (_LINE_W) window — swap the splitter for a newline split on real
    text; the plan is identical.

    Scale shape: line construction is scan-side (slice/transform over
    a Generate-materialized token array — the house inlining-hazard
    pattern); the ONLY full-corpus shuffles are the fp-partitioned
    keeper window (16-byte md5 keys) and the per-doc reassembly —
    two total, single subtree, no self-join; the keeper rule is
    row_number over (doc_id, idx), lexicographic-first, so results
    are identical under any partitioning.
    ORACLE: DuckDB replays chunking, fingerprints, the keeper window,
    and the rebuilt-text md5 — the cleaned corpus itself is
    value-hashed, not just the counts."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # materialize the token array ONCE behind a Generate barrier
    # (transform/slice below reference it ~2× per line; inlined, each
    # reference would re-run the regex split — measured 18×/2× hazards
    # in dedup.py's shingle build)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array(tokens_col(F.col("text")))
        ).alias("__tk"),
    )
    tk = F.col("__tk")
    n_lines_arr = F.ceil(F.size(tk) / F.lit(_LINE_W)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines_arr - 1),
        lambda i: F.concat_ws(" ", F.slice(tk, i * _LINE_W + 1, _LINE_W)),
    )
    lr = tok.select(
        "doc_id", F.posexplode(F.when(F.size(tk) > 0, lines)).alias("idx", "line")
    ).withColumn("fp", F.md5("line"))
    # keeper decision as ONE fp-partitioned window (row_number over
    # (doc_id, idx)) instead of groupBy-min + rejoin: the join route
    # referenced lr twice, recomputing the whole line-build subtree
    # (4 Generates, no ReusedExchange — partial-agg exchanges differ)
    # and shuffling lines an extra time. Same deterministic
    # lexicographic-first semantics, one shuffle on the 16-byte fp.
    from pyspark.sql import Window

    k = lr.withColumn(
        "kept",
        F.row_number().over(
            Window.partitionBy("fp").orderBy("doc_id", "idx")
        )
        == 1,
    )
    arr = F.sort_array(
        F.collect_list(F.when(F.col("kept"), F.struct("idx", "line")))
    )
    return (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
            F.md5(
                F.concat_ws(" ", F.transform(arr, lambda x: x["line"]))
            ).alias("cleaned_md5"),
        )
        .select("doc_id", "n_lines", "n_kept", "cleaned_md5")
    )


# C4 per-line heuristics (Raffel et al. 2020 §2.2, the "Colossal Clean
# Crawled Corpus" rules): drop lines with fewer than N words and lines
# containing boilerplate markers ("javascript", "lorem ipsum", "{"),
# then drop documents left with too few lines. Adapted to the house
# synthetic-line convention (the fixture has no newlines, so a "line"
# is a fixed _LINE_W-token window — the `text_dedup_lines` rule; swap
# the splitter for a newline split on real text) and to the normalized
# token stream (punctuation-terminal rules can't survive
# normalization, so the marker set is the frozen stand-in below —
# swap for the production list, the MECHANISM is the op).
C4_LINE_MIN_TOKENS = 3
C4_MIN_KEPT_LINES = 2
C4_LINE_MARKERS = ("dup", "slow")

_C4_MARKER_SQL = sql_str_list(C4_LINE_MARKERS)

# The per-doc line-filter relation as a composable CTE body (the
# `_pack_sql` convention): both the registered line-filter oracle and
# the end-to-end C4 pipeline oracle build on `c4per` (doc_id,
# n_lines, n_kept, n_tokens, n_kept_tokens, cleaned_md5) over the
# text-non-null docs `c4t`.
_C4_CTES = f"""c4t AS (
  SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
),
c4l AS (
  SELECT doc_id, u.i AS idx,
         tk[CAST(u.i * {_LINE_W} + 1 AS INT) :
            CAST(u.i * {_LINE_W} + {_LINE_W} AS INT)] AS lt
  FROM c4t, LATERAL (
    SELECT unnest(range((len(tk) + {_LINE_W - 1}) // {_LINE_W})) AS i) u
),
c4k AS (
  SELECT doc_id, idx, lt,
         (len(lt) >= {C4_LINE_MIN_TOKENS}
          AND len(list_intersect(lt, {_C4_MARKER_SQL})) = 0) AS kept
  FROM c4l
),
c4per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         CAST(COALESCE(SUM(len(lt)), 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(len(lt)) FILTER (WHERE kept), 0) AS BIGINT)
           AS n_kept_tokens,
         md5(COALESCE(string_agg(array_to_string(lt, ' '), ' ' ORDER BY idx)
                        FILTER (WHERE kept), '')) AS cleaned_md5
  FROM c4k GROUP BY doc_id
)"""

_C4_LINE_ORACLE = f"""
WITH {_C4_CTES}
SELECT c4t.doc_id,
       COALESCE(p.n_lines, CAST(0 AS BIGINT)) AS n_lines,
       COALESCE(p.n_kept, CAST(0 AS BIGINT)) AS n_kept,
       COALESCE(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       COALESCE(p.n_kept_tokens, CAST(0 AS BIGINT)) AS n_kept_tokens,
       COALESCE(p.cleaned_md5, md5('')) AS cleaned_md5,
       (COALESCE(p.n_kept, 0) >= {C4_MIN_KEPT_LINES}) AS keep
FROM c4t LEFT JOIN c4per p USING (doc_id)
"""


def _c4_line_cols(tk: Column) -> dict:
    """The C4 line-rule columns as pure functions of the MATERIALIZED
    token-array column — THE single implementation of the rules,
    shared by `text_c4_line_filter` and `pipeline_c4_reproduce` (the
    pack_frame convention: one definition, surfaces structurally
    unable to disagree). Caller must pass a Generate-barriered
    column, never an inline tokens_col expression."""
    w = _LINE_W
    nl = F.ceil(F.size(tk) / F.lit(w)).cast("int")
    idxs = F.when(F.size(tk) > 0, F.sequence(F.lit(0), nl - 1)).otherwise(
        F.array().cast("array<int>")
    )
    markers = F.array(*[F.lit(m) for m in C4_LINE_MARKERS])

    def line(i):
        return F.slice(tk, i * w + 1, w)

    kept_idx = F.filter(
        idxs,
        lambda i: (F.size(line(i)) >= C4_LINE_MIN_TOKENS)
        & ~F.arrays_overlap(line(i), markers),
    )
    kept_flat = F.flatten(F.transform(kept_idx, line))
    return {
        "n_lines": F.size(idxs).cast("bigint"),
        "n_kept": F.size(kept_idx).cast("bigint"),
        "n_tokens": F.size(tk).cast("bigint"),
        "n_kept_tokens": F.size(kept_flat).cast("bigint"),
        "cleaned_md5": F.md5(F.concat_ws(" ", kept_flat)),
        "keep": F.size(kept_idx) >= C4_MIN_KEPT_LINES,
    }


@query("text_c4_line_filter", oracle=_C4_LINE_ORACLE)
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-line boilerplate filtering WITH REWRITE (Raffel et
    al. 2020 §2.2): a line survives iff it has ≥ C4_LINE_MIN_TOKENS
    tokens and contains no marker token; the document is reassembled
    from its surviving lines and value-hashed (rewrite-and-rehash —
    the cleaned corpus is pinned, not just the counts), and the doc
    itself is kept iff ≥ C4_MIN_KEPT_LINES lines survive (the paper's
    ≥3-sentence rule scaled to the synthetic 10-token lines). The
    rules are PER-LINE LOCAL — unlike `text_dedup_lines`' cross-doc
    keeper election, nothing here needs any other row.

    Scale shape: the whole op is ONE scan-side projection — the token
    array materializes once behind a Generate barrier, line slicing /
    rule evaluation / reassembly are JVM higher-order functions over
    it, and there is ZERO exchange in the plan (plan-guarded): the
    ideal 100 TB shape, same class as `text_pii_redact`. Docs that
    normalize to zero tokens have zero lines → keep=false, md5('')."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id",
        F.explode(F.array(tokens_col(F.col("text")))).alias("__tk"),
    )
    cols = _c4_line_cols(F.col("__tk"))
    return tok.select(
        "doc_id",
        *[cols[n].alias(n) for n in (
            "n_lines", "n_kept", "n_tokens", "n_kept_tokens",
            "cleaned_md5", "keep",
        )],
    )


def _c4_pipeline_oracle() -> str:
    from gmt_dbt_spark.functions.text import _BADWORDS_SQL

    return f"""
WITH {_C4_CTES},
bw AS (
  SELECT doc_id,
         (len(list_filter(tk, x -> list_contains({_BADWORDS_SQL}, x))) = 0
          AND len(tk) > 0) AS bw_ok
  FROM c4t
),
m AS (
  -- COALESCE(…, md5('')) (r9 ADVICE): a zero-token doc has no c4per
  -- row, but the Spark side computes cleaned_md5 = md5('') for it —
  -- currently invisible (such docs always fail bw_ok's len(tk) > 0
  -- and only surviving rows surface rn), but the two sides must
  -- agree UNCONDITIONALLY, not conditionally on the gate order.
  SELECT d.source, t.doc_id, bw.bw_ok,
         (COALESCE(p.n_kept, 0) >= {C4_MIN_KEPT_LINES}) AS line_ok,
         COALESCE(p.cleaned_md5, md5('')) AS cleaned_md5,
         p.n_kept_tokens
  FROM c4t t
  JOIN documents d USING (doc_id)
  JOIN bw USING (doc_id)
  LEFT JOIN c4per p USING (doc_id)
),
w AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY (bw_ok AND line_ok), cleaned_md5 ORDER BY doc_id) AS rn
  FROM m
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(*) FILTER (WHERE bw_ok) AS BIGINT) AS n_pass_badwords,
  CAST(COUNT(*) FILTER (WHERE bw_ok AND line_ok) AS BIGINT) AS n_pass_both,
  CAST(COUNT(*) FILTER (WHERE bw_ok AND line_ok AND rn = 1) AS BIGINT)
    AS n_after_dedup,
  CAST(COALESCE(SUM(n_kept_tokens)
                  FILTER (WHERE bw_ok AND line_ok AND rn = 1), 0) AS BIGINT)
    AS kept_tokens
FROM w GROUP BY source
"""


@query("pipeline_c4_reproduce", oracle=_c4_pipeline_oracle())
def pipeline_c4_reproduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning recipe END-TO-END as one plan (Raffel et al.
    2020 §2.2), composed from the REGISTERED gates — the same
    composition doctrine as `pipeline_curation_report`: the bad-words
    gate (`text_badwords_filter`), the per-line boilerplate rules
    with rewrite (`text_c4_line_filter`), then exact dedup of the
    CLEANED text (keep-first by doc_id — C4 §2.2's discard-repeats
    step at cleaned-doc granularity; the span-granular variant is
    `text_dedup_lines`). Per-source funnel report: docs in, passing
    the bad-words gate, passing both gates, surviving dedup, and the
    final kept-token budget — the numbers a pretraining run starts
    from.

    Scale shape: ONE corpus scan — both gates' columns are per-row
    functions of the text, computed from a SINGLE Generate-
    materialized token array (one regex tokenization, not one per
    gate; plan-guarded: 1 scan, no joins before the dedup window);
    dedup adds ONE 16-byte-md5-partitioned window over the
    (flag, md5) pairs; the report is a label-bounded rollup. Every
    stage decision is identical to its standalone op by construction:
    the gates share the `_badwords_cols` / `_c4_line_cols`
    implementations with `text_badwords_filter` /
    `text_c4_line_filter` (the pack_frame one-definition rule, not
    composition-by-join and not copy-paste)."""
    from pyspark.sql import Window

    from gmt_dbt_spark.functions.text import _badwords_cols

    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.array(tokens_col(F.col("text")))).alias("__tk"),
    )
    tk = F.col("__tk")
    bw = _badwords_cols(tk)
    c4 = _c4_line_cols(tk)
    m = tok.select(
        "doc_id",
        "source",
        bw["keep"].alias("bw_ok"),
        c4["keep"].alias("line_ok"),
        c4["cleaned_md5"].alias("cleaned_md5"),
        c4["n_kept_tokens"].alias("n_kept_tokens"),
    )
    surv = F.col("bw_ok") & F.col("line_ok")
    w = Window.partitionBy(surv, "cleaned_md5").orderBy("doc_id")
    m2 = m.withColumn("rn", F.row_number().over(w))
    final = surv & (F.col("rn") == 1)
    return m2.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("bw_ok")).cast("bigint").alias("n_pass_badwords"),
        F.count_if(surv).cast("bigint").alias("n_pass_both"),
        F.count_if(final).cast("bigint").alias("n_after_dedup"),
        F.coalesce(
            F.sum(F.when(final, F.col("n_kept_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("kept_tokens"),
    )


PACK_BUDGET = 2048  # tokens per pack (context window)


def pack_frame(docs: DataFrame) -> DataFrame:
    """(source, doc_id, tok, run_excl, pack_id) — THE single
    definition of the packing arithmetic, shared by `pack_sequences`
    (assignment surface) and `pack_attention_layout` (boundary
    surface) so the two can never disagree (r5 review: the invariant
    used to be enforced only by copy-paste). tok = whitespace proxy
    (splits + 1); run_excl = exclusive running token total per
    source (ORDER BY doc_id — deterministic, resumable); pack_id =
    floor(run_excl / PACK_BUDGET), exact-integer/constant IEEE."""
    from pyspark.sql import Window

    tok = (
        F.length("text") - F.length(F.regexp_replace("text", " ", "")) + F.lit(1)
    ).alias("tok")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("source", "doc_id", tok)
        .withColumn("run_excl", F.sum("tok").over(w) - F.col("tok"))
        .withColumn(
            "pack_id",
            F.floor(F.col("run_excl") / F.lit(float(PACK_BUDGET))).cast(
                "bigint"
            ),
        )
    )


def _pack_sql(where: str = "") -> str:
    """The DuckDB twin of `pack_frame` — one fragment, composed by
    both pack oracles."""
    return f"""(
  SELECT source, doc_id, tok,
         SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - tok AS run_excl,
         CAST(FLOOR((SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - tok)
                    / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
  FROM (SELECT source, doc_id,
               length(text) - length(replace(text, ' ', '')) + 1 AS tok
        FROM documents{where})
)"""


@query(
    "pack_sequences",
    oracle=f"SELECT source, doc_id, tok, pack_id FROM {_pack_sql()} p",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget packs
    (context windows) by contiguous fill — pack_id = exclusive
    running token total ÷ budget. One window per corpus (PARTITION BY
    source) keeps the running sum parallel across corpora and
    deterministic (ORDER BY doc_id), so the packing is reproducible
    run-to-run — the property a training job needs to resume mid-
    epoch. Token counts are integer (whitespace proxy), the running
    sum is exact, and floor of an exact-integer/constant division is
    deterministic IEEE — hash-stable across engines. Arithmetic
    lives in `pack_frame` (shared with pack_attention_layout)."""
    docs = table(spark, sf_dir, "documents")
    return pack_frame(docs).select("source", "doc_id", "tok", "pack_id")


@query(
    "pipeline_train_test_split",
    oracle="""
SELECT source,
       CASE WHEN ((doc_id % 1000000) * 2654435761) % 1000 < 900 THEN 'train'
            ELSE 'eval' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY source, split
""",
)
def pipeline_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/eval split: the gate is a pure
    function of doc_id (Knuth multiplicative hash mod 1000), so the
    split is reproducible run-to-run, computed scan-side with zero
    shuffles beyond the final per-(source, split) rollup, and never
    needs a stored assignment table. Exactly the property a 100 TB
    corpus split needs — any worker can answer "which split is doc
    X in?" without coordination. Disjointness and coverage pinned in
    tests."""
    docs = table(spark, sf_dir, "documents")
    # doc_id reduces mod 1e6 BEFORE the Knuth multiply so the product
    # never overflows bigint at any document count (same guard as
    # sample_temperature).
    gate = ((F.col("doc_id") % 1000000) * F.lit(2654435761)) % 1000
    return (
        docs.withColumn(
            "split", F.when(gate < 900, F.lit("train")).otherwise(F.lit("eval"))
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "pipeline_curation_report",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(regexp_replace(text,
             '[^a-zA-Z0-9 ]', ' ', 'g'))), ' '), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         (len(toks) BETWEEN 5 AND 100000
          AND COALESCE(list_sum(list_transform(toks, w -> length(w))), 0)
              BETWEEN 2 * len(toks) AND 10 * len(toks)
          AND 5 * len(list_filter(toks, w -> regexp_full_match(w, '[a-z]+')))
              >= 4 * len(toks)
          AND len(list_filter(toks,
               w -> list_contains(['the','a','of','and','to'], w))) >= 1)
           AS keep
  FROM t
),
bg AS (
  SELECT d.doc_id, d.t[s.i + 1] || ' ' || d.t[s.i + 2] AS bigram
  FROM (SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE len(string_split(text, ' ')) >= 2) d,
       LATERAL (SELECT unnest(range(len(d.t) - 1)) AS i) s
),
rep AS (
  SELECT doc_id, (MAX(c) * 10 <= SUM(c) * 3) AS rep_ok
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
  GROUP BY doc_id
),
canon AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT d.lang, d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS total_ws_tokens
FROM documents d
JOIN g ON g.doc_id = d.doc_id
JOIN canon ON canon.doc_id = d.doc_id
LEFT JOIN rep ON rep.doc_id = d.doc_id
WHERE g.keep AND COALESCE(rep.rep_ok, TRUE)
GROUP BY d.lang, d.source
""",
)
def pipeline_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel COMPOSED, as one oracle-checked plan:
    Gopher quality gates ∧ repetition filter ∧ exact-dedup canonical
    election, rolled up to the per-(lang, source) corpus report a
    pretraining run starts from (surviving docs + token budget).
    Demonstrates the operators compose as DataFrames: the gate columns
    come from the SAME registered ops (text_gopher_rules,
    text_repetition, dedup_exact), joined on doc_id. Scale shape: both
    gates are scan-side projections, dedup adds the 16-byte
    fingerprint shuffle, the report is one low-cardinality rollup —
    docs with < 2 tokens have no bigram evidence and pass the
    repetition gate by default (COALESCE TRUE) on both engines."""
    from gmt_dbt_spark.functions.text import text_gopher_rules, text_repetition
    from gmt_dbt_spark.operators.dedup import dedup_exact

    docs = table(spark, sf_dir, "documents")
    gop = text_gopher_rules(spark, sf_dir).select("doc_id", "keep")
    rep = text_repetition(spark, sf_dir).select("doc_id", "rep_ok")
    canon = dedup_exact(spark, sf_dir).select("doc_id")
    return (
        docs.join(gop, "doc_id")
        .join(canon, "doc_id", "left_semi")
        .join(rep, "doc_id", "left")
        .filter(F.col("keep") & F.coalesce("rep_ok", F.lit(True)))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("total_ws_tokens"),
        )
    )


@query(
    "sample_reservoir",
    oracle="""
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT source, doc_id, n_chars FROM r WHERE rn <= 3
""",
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k per-key sample (k=3 docs per corpus) — the
    "show me 3 examples from every source" debugging/eval-set
    primitive. Ordering by md5(doc_id) gives a uniform
    pseudo-random draw that is DETERMINISTIC and engine-agnostic
    (both engines emit identical lowercase-hex md5), unlike
    reservoir sampling with a PRNG; the doc_id tiebreak makes the
    cut total even under (impossible) digest collisions.

    Scale: rank-then-filter compiles to WindowGroupLimit in Spark
    3.5+ — each map task keeps only its local top-k per key BEFORE
    the shuffle, so k×|keys| rows move, not the corpus. The same
    shape serves train-set subsampling at any k."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        d.select(
            "source", "doc_id", "n_chars", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .select("source", "doc_id", "n_chars")
    )


@query(
    "pipeline_multimodal_curation",
    oracle="""
WITH d AS (
  SELECT doc_id, source, text,
         800 + (doc_id % 5) * 160 AS nsamp,
         8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
  FROM documents WHERE doc_id < 200
),
audio AS (
  SELECT d.doc_id, MAX(ABS(((d.doc_id * 31 + u.i * 17) % 2003) - 1001))
           AS peak_abs
  FROM d, LATERAL (SELECT unnest(range(d.nsamp)) AS i) u
  GROUP BY d.doc_id
),
img AS (
  SELECT d.doc_id,
         SUM(ABS(((d.doc_id + 7*(x.i+1) + 13*y.i + 29*c.i) % 256)
               - ((d.doc_id + 7*x.i + 13*y.i + 29*c.i) % 256))) AS grad_h
  FROM d,
       LATERAL (SELECT unnest(range(d.w - 1)) AS i) x,
       LATERAL (SELECT unnest(range(d.h)) AS i) y,
       LATERAL (SELECT unnest(range(3)) AS i) c
  GROUP BY d.doc_id
),
txt AS (
  SELECT doc_id,
         CASE WHEN length(text) > 0
              THEN (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 100)
                   // length(text)
              ELSE 0 END AS alpha_pct
  FROM d
),
flags AS (
  SELECT d.source,
         CASE WHEN audio.peak_abs >= 1000 AND img.grad_h >= 2400
                   AND txt.alpha_pct >= 82 THEN 1 ELSE 0 END AS keep,
         img.grad_h
  FROM d JOIN audio USING (doc_id) JOIN img USING (doc_id)
         JOIN txt USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       CAST(SUM(CASE WHEN keep = 1 THEN grad_h ELSE 0 END) AS BIGINT)
         AS kept_grad_total
FROM flags GROUP BY source
""",
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL curation composite: one plan joining per-blob
    audio decode stats (real WAV parse), image gradient energy (real
    BMP parse), and text alphabetic density, gating each document on
    all three modalities (has-signal ∧ not-flat-image ∧ prose-like)
    and rolling kept counts up per source corpus. This is the
    text+image+audio triage shape a pretraining pipeline runs before
    expensive encoders — and it proves the modality operators
    COMPOSE: all three feature paths and the rollup hash-match a
    single independent SQL recomputation.

    Scale: the two codec passes are per-partition mapInPandas
    (payloads stay executor-side); the three joins are on doc_id —
    co-partitioned, dim-sized at audit scope, ordinary shuffled joins
    at corpus scope; the rollup is a low-cardinality groupBy. Gate
    thresholds are integers picked at the fixture's quartiles
    (grad ≥ 2400 ≈ Q25, alpha ≥ 82 ≈ median) so the gate actually
    discriminates."""
    from gmt_dbt_spark.operators.multimodal import (
        multimodal_audio_features,
        multimodal_image_gradient,
    )

    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "source", "text")
    )
    audio = multimodal_audio_features(spark, sf_dir).select("doc_id", "peak_abs")
    img = multimodal_image_gradient(spark, sf_dir).select("doc_id", "grad_h")
    txt = d.select(
        "doc_id",
        F.when(
            F.length("text") > 0,
            F.expr("(length(regexp_replace(text, '[^A-Za-z]', '')) * 100) "
                   "div length(text)"),
        )
        .otherwise(F.lit(0))
        .alias("alpha_pct"),
    )
    keep = F.when(
        (F.col("peak_abs") >= 1000)
        & (F.col("grad_h") >= 2400)
        & (F.col("alpha_pct") >= 82),
        1,
    ).otherwise(0)
    flags = (
        d.join(audio, "doc_id").join(img, "doc_id").join(txt, "doc_id")
        .select("source", keep.alias("keep"), "grad_h")
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").cast("bigint").alias("n_keep"),
        F.sum(F.when(F.col("keep") == 1, F.col("grad_h")).otherwise(0))
        .cast("bigint")
        .alias("kept_grad_total"),
    )


# ---------------------------------------------------------------------------
# Broadcast-bloom decontamination.
# ---------------------------------------------------------------------------

_BLOOM_MIN_BITS = 1 << 16  # floor: 65536 bits -> 1024 longs, ~8 KB
_BLOOM_MAX_BITS = 1 << 20  # literal-size cap: 16384 longs, ~128 KB
_BLOOM_K = 3


@query(
    "dedup_bloom",
    oracle=f"""
SELECT t.source,
       COUNT(*) AS n_docs,
       COUNT(e.k) AS n_exact_hits,
       TRUE AS no_false_neg,
       TRUE AS fpr_bounded
FROM (SELECT source, {_FP5} AS k FROM documents
      WHERE source NOT IN {_EVAL_SRC}) t
LEFT JOIN (SELECT DISTINCT {_FP5} AS k FROM documents
           WHERE source IN {_EVAL_SRC}) e
  ON t.k = e.k
GROUP BY t.source
""",
)
def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a broadcast Bloom filter — the shape that
    replaces `dedup_cross_corpus`'s fingerprint JOIN when the train
    side is 100 TB: instead of shuffling every train fingerprint into
    a join, the (small) eval fingerprint set is folded into an m-bit
    Bloom bitmap (m=65536, k=3 xxhash64 probes), shipped to every
    task as an 8 KB array literal, and membership is tested SCAN-SIDE
    with pure bit arithmetic — zero shuffle on the train side beyond
    the final per-source rollup.

    The bitmap is built distributively: explode each eval fingerprint
    to its k bit positions, group by 64-bit word index, BIT_OR the
    masks; only the <=1024 (word, bits) rows ever reach the driver.

    Correctness gate (sketch-audit pattern, NOTES_r2.md item 3): the
    query ALSO computes exact membership via the broadcast eval join
    and emits per-source booleans the oracle can assert —
    `no_false_neg` (a Bloom filter can never miss a true member) and
    `fpr_bounded` (false positives <= 5% of docs + 1; the bitmap is
    sized to >=32 bits per eval key, so expected FPR stays ~0.07%
    regardless of sf). Exact hit counts are hash-compared against
    DuckDB."""
    docs = table(spark, sf_dir, "documents")
    eval_src = EVAL_SRC_LIST
    fp = fp5_col()

    # NULL text -> NULL fingerprint: not a member of anything (the
    # oracle's NULL k never joins); drop it from the build side or it
    # would collect as a None bit position.
    ev = (
        docs.filter(F.col("source").isin(eval_src))
        .select(fp.alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
    )
    # Size the bitmap to the eval set: >=32 bits/key keeps the fill
    # ~9% and FPR ~0.07% at k=3, so the 5%+1 bound below holds at any
    # sf until the literal cap (~32k keys); past that, production
    # swaps the literal for a broadcast-joined bitmap table — same
    # probe expression. The count is one tiny action over the eval
    # subset (same build-time pattern as the IVF centroid collect).
    n_keys = ev.count()
    m_bits = _BLOOM_MIN_BITS
    while m_bits < min(_BLOOM_MAX_BITS, 32 * max(n_keys, 1)):
        m_bits *= 2

    def positions(col):
        return [
            F.pmod(F.xxhash64(F.concat(col, F.lit(str(i)))), F.lit(m_bits))
            for i in range(_BLOOM_K)
        ]

    # Distributed bitmap build: k positions per key -> (word, mask) ->
    # BIT_OR per word. <=1024 rows collect; everything before is
    # partial-aggregable.
    pos = ev.select(F.explode(F.array(*positions(F.col("k")))).alias("p"))
    words = (
        pos.select(
            F.expr("p div 64").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 AS INT))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["w"]] = r["bits"]
    arr = F.lit(bitmap)  # <=128 KB literal, embedded in the codegen'd task

    train = docs.filter(~F.col("source").isin(eval_src)).select(
        "source", fp.alias("k")
    )
    # Scan-side membership probe: k bit tests against the literal
    # bitmap, all inside whole-stage codegen (the literal is emitted
    # once into the generated class, not per row).
    flagged = train.withColumn("_bm", arr)
    for i, p in enumerate(positions(F.col("k"))):
        flagged = flagged.withColumn(f"_p{i}", p)
    hit_sql = " AND ".join(
        f"(element_at(_bm, cast(_p{i} div 64 AS INT) + 1)"
        f" & shiftleft(1L, cast(_p{i} % 64 AS INT))) != 0"
        for i in range(_BLOOM_K)
    )
    flagged = flagged.withColumn(
        "bloom_hit", F.col("k").isNotNull() & F.expr(hit_sql)
    ).drop("_bm", *[f"_p{i}" for i in range(_BLOOM_K)])

    exact = flagged.join(
        F.broadcast(ev.withColumn("is_eval", F.lit(True))), "k", "left"
    ).withColumn("exact_hit", F.coalesce(F.col("is_eval"), F.lit(False)))

    return exact.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("exact_hit")).alias("n_exact_hits"),
        (F.count_if(F.col("exact_hit") & ~F.col("bloom_hit")) == 0).alias(
            "no_false_neg"
        ),
        (
            F.count_if(F.col("bloom_hit") & ~F.col("exact_hit"))
            <= F.count(F.lit(1)) / 20 + 1
        ).alias("fpr_bounded"),
    )


@query(
    "pipeline_dedup_cascade",
    oracle="""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
surv AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN keep ON d.doc_id = keep.doc_id
),
t0 AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(regexp_replace(text,
             '[^a-zA-Z0-9 ]', ' ', 'g'))), ' '), t -> t <> '') AS tk
  FROM surv WHERE text IS NOT NULL
),
g AS (
  SELECT DISTINCT doc_id, md5(gram) AS fp
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(tk) >= 8
                  THEN list_transform(range(len(tk) - 7),
                       i -> array_to_string(tk[i+1:i+8], ' '))
                  -- COALESCE: array_to_string([], ' ') is NULL in
                  -- DuckDB vs '' from Spark concat_ws (same fix as
                  -- dedup_substring's gram CTE)
                  ELSE [COALESCE(array_to_string(tk, ' '), '')] END) AS gram
    FROM t0
  )
),
df AS (SELECT fp FROM g GROUP BY fp HAVING COUNT(*) >= 2),
contam AS (
  SELECT g.doc_id
  FROM g LEFT JOIN df ON g.fp = df.fp
  GROUP BY g.doc_id
  HAVING COUNT(df.fp) * 100 >= COUNT(*) * 30
)
SELECT d.source,
       COUNT(*) AS n_docs,
       COUNT(k.doc_id) AS n_after_exact,
       COUNT(c.doc_id) AS n_contaminated,
       CAST(SUM(CASE WHEN k.doc_id IS NOT NULL AND c.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d
LEFT JOIN keep k ON d.doc_id = k.doc_id
LEFT JOIN contam c ON d.doc_id = c.doc_id
GROUP BY d.source
""",
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CASCADE, cheapest stage first — the order every
    production curation run uses: exact whole-text dedup (16-byte
    fingerprint groupBy, drops the easy mirrors for pennies) BEFORE
    the expensive substring-contamination audit, which therefore
    tokenizes and shingles only the exact-survivors. Per-source
    funnel counts out: total -> after-exact -> contaminated -> kept.

    Scale math: if exact dedup removes fraction r, the 8-gram stage
    — the dominant cost, ~|tokens| gram fingerprints shuffled — runs
    on (1-r) of the corpus; cascading cheap-to-expensive is the
    difference between an overnight run and a week at 100 TB. All
    stages shuffle fingerprints/ids only, never document bodies, and
    the funnel rollup joins are id-keyed markers."""
    docs = table(spark, sf_dir, "documents")
    keep = (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = docs.select("doc_id", "text").join(keep, "doc_id", "left_semi")
    g = (
        shingle_rows(surv, "doc_id", "text", n=8)
        .select(F.col("__id").alias("doc_id"), F.md5("__sh").alias("fp"))
        .distinct()
    )
    dup = (
        g.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("fp", F.lit(1).alias("is_dup"))
    )
    contam = (
        g.join(dup, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup"),
        )
        .filter(F.col("n_dup") * 100 >= F.col("n_grams") * 30)
        .select("doc_id", F.lit(1).alias("is_cont"))
    )
    marked = (
        docs.select("doc_id", "source")
        .join(keep.withColumn("is_surv", F.lit(1)), "doc_id", "left")
        .join(contam, "doc_id", "left")
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("is_surv").alias("n_after_exact"),
        F.count("is_cont").alias("n_contaminated"),
        F.count_if(
            F.col("is_surv").isNotNull() & F.col("is_cont").isNull()
        ).alias("n_kept"),
    )


@query(
    "sample_temperature",
    oracle="""
WITH sz AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
tot AS (SELECT CAST(CAST(SUM(CAST(SQRT(CAST(n AS DOUBLE)) AS DECIMAL(25,6)))
                     AS VARCHAR) AS DOUBLE) AS wsum FROM sz),
rate AS (
  SELECT source, n,
         LEAST(1000000, CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) / tot.wsum
                                   * 5000000.0) AS BIGINT)) AS rate_ppm
  FROM sz CROSS JOIN tot
)
SELECT d.source,
       MAX(rate.n) AS n_docs,
       MAX(rate.rate_ppm) AS rate_ppm,
       CAST(SUM(CASE WHEN ((d.doc_id % 1000000) * 2654435761) % 1000000
                     < rate.rate_ppm
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents d JOIN rate ON d.source = rate.source
GROUP BY d.source
""",
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (the Pile/ROOTS recipe,
    alpha = 0.5): each source's sampling rate is proportional to
    sqrt(corpus size) — upweighting small high-quality corpora
    relative to raw proportional sampling — normalized so the overall
    keep rate is ~5x the uniform share, then applied as a
    DETERMINISTIC id-hash gate (Knuth multiplicative mod 1e6 ppm),
    reproducible across runs and partitionings. Rates cap at 1e6 ppm
    (a dominant source saturates to keep-everything rather than
    reporting a >100% rate), and the gate reduces doc_id mod 1e6
    BEFORE the Knuth multiply so the product never overflows bigint
    at any document count.

    Exactness: sqrt is correctly-rounded IEEE (unlike log/exp, safe
    cross-engine), the normalizing division is deterministic double
    arithmetic, and the rate floors to integer ppm before the gate —
    so sampled counts hash exactly.

    Scale shape: source sizes are one partial-aggregable rollup; the
    per-source rates are a dim-sized broadcast join back onto the
    scan; the gate itself is scan-side integer arithmetic (at 100 TB
    the only full pass is the gated scan — same shape as
    sample_stratified, with rates DERIVED from the data instead of
    hard-coded)."""
    docs = table(spark, sf_dir, "documents")
    sz = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # sqrt itself is IEEE-exact, but a SUM of doubles is order-
    # dependent — route the reduction through DECIMAL like every
    # other cross-engine sum (exprs.py).
    tot = sz.agg(dsum(F.sqrt(F.col("n").cast("double"))).alias("wsum"))
    rate = sz.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.floor(
                F.sqrt(F.col("n").cast("double")) / F.col("wsum") * 5000000.0
            ).cast("bigint"),
        ).alias("rate_ppm"),
    )
    gated = docs.select("doc_id", "source").join(F.broadcast(rate), "source")
    return gated.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max("rate_ppm").alias("rate_ppm"),
        F.count_if(
            ((F.col("doc_id") % 1000000) * 2654435761) % 1000000
            < F.col("rate_ppm")
        ).alias("n_sampled"),
    )


# ---------------------------------------------------------------------------
# UniMax mixture planning (Chung et al. 2023, "UniMax: Fairer and More
# Effective Language Sampling for Large-Scale Multilingual Pretraining"):
# allocate a total token budget across corpora as uniformly as possible
# subject to a per-corpus epoch cap, via closed-form water-filling.
# ---------------------------------------------------------------------------

UNIMAX_EPOCH_CAP = 1  # at most one epoch of any corpus
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 9, 10  # budget = 9/10 of total tokens

# DuckDB twin of _unimax_plan — shared CTE body so the planner and the
# materializer oracles can never diverge from each other.
_UNIMAX_PLAN_CTES = f"""
sz AS (
  SELECT source, SUM(len({_DUCK_TOKENS})) AS n_tokens
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
caps AS (
  SELECT source, n_tokens, n_tokens * {UNIMAX_EPOCH_CAP} AS cap_tokens FROM sz
),
pl AS (
  SELECT source, n_tokens, cap_tokens,
         ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS i,
         COALESCE(SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
         COUNT(*) OVER () AS k,
         SUM(n_tokens) OVER () AS total_tokens
  FROM caps
),
flag AS (
  SELECT *, ((total_tokens * {UNIMAX_BUDGET_NUM}) // {UNIMAX_BUDGET_DEN}) AS b,
         cap_tokens * (k - i + 1)
             <= ((total_tokens * {UNIMAX_BUDGET_NUM}) // {UNIMAX_BUDGET_DEN})
                - cum_before AS capped
  FROM pl
),
lvl AS (
  SELECT *, SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS m,
         COALESCE(SUM(CASE WHEN capped THEN cap_tokens END) OVER (), 0) AS c_m
  FROM flag
),
alloc0 AS (
  SELECT source, n_tokens, cap_tokens, capped AS is_capped,
         CASE WHEN capped THEN cap_tokens
              ELSE (b - c_m) // (k - m)
                   + CASE WHEN i - m <= (b - c_m) % (k - m) THEN 1 ELSE 0 END
         END AS alloc_tokens
  FROM lvl
),
plan AS (
  SELECT source, n_tokens, cap_tokens, alloc_tokens, is_capped,
         CASE WHEN n_tokens = 0 THEN 0
              ELSE (alloc_tokens * 1000000) // n_tokens END AS epochs_ppm
  FROM alloc0
)"""


def _unimax_plan(docs: DataFrame) -> DataFrame:
    """Water-filling token allocation per corpus (the Spark twin of
    ``_UNIMAX_PLAN_CTES``).

    Closed form: sort corpora by capacity ascending. Corpus i is
    CAPPED iff ``cap_i * (k - i + 1) <= B - C_{{i-1}}`` (the integer
    cross-multiplied form of "cap_i fits under the water level given
    everything smaller is capped"); this predicate is provably
    monotone (once false it stays false — each failure subtracts less
    than it shrinks the bound), so the capped set is a prefix of the
    ascending order. With m capped corpora holding C_m tokens, every
    uncapped corpus receives the common level ``(B - C_m) div (k-m)``,
    and the division remainder goes one token apiece to the first
    ``(B - C_m) mod (k-m)`` uncapped corpora — so ``sum(alloc) == B``
    EXACTLY whenever total capacity covers the budget. Every quantity
    is a BIGINT — integer arithmetic only, so both engines agree
    bit-for-bit.

    Scale shape: the per-corpus token rollup is one partial-aggregable
    groupBy over scan-side token counts; the window runs over a
    k-row frame (k = number of corpora — tens, not data-sized), so the
    single-partition Window here is a deliberate k-row driver-scale
    step, not a data-scale one. Overflow: ``alloc * 1e6`` stays inside
    BIGINT until ~9.2e12 tokens per corpus (≈ 37 TB of text at 4
    chars/token); past that, route the ppm product through
    DECIMAL(38,0) on both engines — alloc/cap/n_tokens themselves are
    plain sums, safe to ~9.2e18 total tokens."""
    from pyspark.sql import Window

    sz = (
        docs.filter(F.col("text").isNotNull())
        # filter empties before size: a doc normalizing to '' must
        # count 0 tokens, matching _DUCK_TOKENS' list_filter (split
        # of an empty string yields [''], i.e. a phantom token)
        .select(
            "source",
            F.size(
                tokens_col(F.col("text"))
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
        .withColumn("cap_tokens", F.col("n_tokens") * UNIMAX_EPOCH_CAP)
    )
    asc = Window.orderBy("cap_tokens", "source")
    full = asc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pl = sz.select(
        "source",
        "n_tokens",
        "cap_tokens",
        F.row_number().over(asc).alias("i"),
        F.coalesce(
            F.sum("cap_tokens").over(
                asc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("bigint"),
        ).alias("cum_before"),
        F.count(F.lit(1)).over(full).alias("k"),
        F.sum("n_tokens").over(full).alias("total_tokens"),
    )
    flag = pl.withColumn(
        "b",
        F.expr(
            f"(total_tokens * {UNIMAX_BUDGET_NUM}) div {UNIMAX_BUDGET_DEN}"
        ),
    ).withColumn(
        "capped", F.expr("cap_tokens * (k - i + 1) <= b - cum_before")
    )
    lvl = flag.select(
        "*",
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).over(full).alias("m"),
        F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap_tokens"))).over(full),
            F.lit(0).cast("bigint"),
        ).alias("c_m"),
    )
    alloc0 = lvl.select(
        "source",
        "n_tokens",
        "cap_tokens",
        F.col("capped").alias("is_capped"),
        F.expr(
            "CASE WHEN capped THEN cap_tokens"
            "     ELSE (b - c_m) div (k - m)"
            "          + CASE WHEN i - m <= (b - c_m) % (k - m)"
            "                 THEN 1 ELSE 0 END "
            "END"
        ).alias("alloc_tokens"),
    )
    return alloc0.select(
        "source",
        "n_tokens",
        "cap_tokens",
        "alloc_tokens",
        "is_capped",
        # n_tokens = 0 (every doc normalized to empty) must not hit
        # the division: ANSI mode — the driver's vanilla-session
        # default on Spark 4 — raises on div-by-zero where DuckDB
        # yields NULL
        F.expr(
            "CASE WHEN n_tokens = 0 THEN 0L"
            " ELSE (alloc_tokens * 1000000) div n_tokens END"
        ).alias("epochs_ppm"),
    )


@query(
    "sample_mixture_unimax",
    oracle=f"""
WITH {_UNIMAX_PLAN_CTES}
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cap_tokens AS BIGINT) AS cap_tokens,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       is_capped,
       CAST(epochs_ppm AS BIGINT) AS epochs_ppm
FROM plan
""",
)
def sample_mixture_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture planner: distribute a token budget (9/10 of the
    corpus total) across sources as uniformly as possible without
    exceeding one epoch (UNIMAX_EPOCH_CAP) of any source — the
    data-mixture step a multilingual/multi-domain pretraining run
    executes before sampling. Small corpora hit the epoch cap and are
    marked ``is_capped``; the freed budget water-fills into larger
    ones. Pure integer arithmetic end-to-end (see _unimax_plan), so
    the plan value-hashes exactly against the DuckDB replay."""
    docs = table(spark, sf_dir, "documents")
    return _unimax_plan(docs)


@query(
    "pipeline_mixture_materialize",
    oracle=f"""
WITH {_UNIMAX_PLAN_CTES},
r AS (SELECT source, epochs_ppm AS ppm FROM plan),
g AS (
  SELECT d.doc_id, d.source,
         (r.ppm // 1000000)
         + CASE WHEN ((d.doc_id % 1000000) * 2654435761) % 1000000
                     < r.ppm % 1000000 THEN 1 ELSE 0 END AS n_rep
  FROM documents d JOIN r ON d.source = r.source
  WHERE d.text IS NOT NULL
)
SELECT doc_id, source, CAST(u.rep_idx AS BIGINT) AS rep_idx
FROM g, LATERAL (SELECT unnest(range(CAST(g.n_rep AS BIGINT))) AS rep_idx) u
""",
)
def pipeline_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the UniMax plan into the actual training corpus:
    each document is repeated ``floor(epochs)`` times plus one more
    with probability ``frac(epochs)`` — decided by the same
    deterministic Knuth id-gate as sample_temperature, so the realized
    corpus is reproducible across runs and partitionings and its
    expected per-source token mass equals the planned allocation.

    Scale shape: the k-row plan broadcasts back onto the scan; the
    repeat gate is scan-side integer arithmetic; the explode fans out
    at most ``ceil(epochs) ≤ UNIMAX_EPOCH_CAP + 1`` rows per
    document, so output partition sizes stay within a constant factor
    of input — no shuffle anywhere in the materialization."""
    docs = table(spark, sf_dir, "documents")
    plan = _unimax_plan(docs)
    r = plan.select("source", F.col("epochs_ppm").alias("ppm"))
    g = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source")
        .join(F.broadcast(r), "source")
        .withColumn(
            "n_rep",
            F.expr(
                "ppm div 1000000"
                " + CASE WHEN ((doc_id % 1000000) * 2654435761) % 1000000"
                " < ppm % 1000000 THEN 1 ELSE 0 END"
            ),
        )
    )
    return g.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.col("n_rep") > 0,
                F.sequence(F.lit(0).cast("bigint"), F.col("n_rep") - 1),
            )
        ).alias("rep_idx"),
    )


# --- the grand composite: the full pretraining-corpus build ---------------

_PIPE_FUZZY_MIN_MATCH = 8  # of 12 signature components ≈ est. Jaccard ≥ 2/3


def _pretrain_oracle() -> str:
    """DuckDB full replay of `pipeline_pretrain_corpus`: every stage
    reuses the exact CTE generator its standalone operator uses
    (`_DUCK_TOKENS`, `_sig_cte_prefix`, `_banded_sql`, `_FP5`), so a
    definition change in any stage diverges HERE first, not in
    production. Signatures are computed over all documents and
    filtered to exact-dedup keepers — identical to computing them on
    keepers only, since a signature depends on nothing but the doc's
    own text."""
    from gmt_dbt_spark.operators.dedup import _AB, _banded_sql, _sig_cte_prefix

    n_match = " + ".join(
        f"CASE WHEN ls.mh{j} = rs.mh{j} THEN 1 ELSE 0 END"
        for j in range(len(_AB))
    )
    return f"""
WITH {_sig_cte_prefix()},
train AS (
  SELECT doc_id, text, source FROM documents
  WHERE text IS NOT NULL AND source NOT IN {_EVAL_SRC}
),
flags AS (
  SELECT doc_id, text, source,
         len({_DUCK_TOKENS}) AS n_tokens,
         len({_DUCK_TOKENS}) >= {MIN_TOKENS}
           AND length(text) >= {MIN_CHARS} AS q,
         md5(text) AS fp
  FROM train
),
lab0 AS (
  SELECT *, MIN(CASE WHEN q THEN doc_id END) OVER (PARTITION BY fp) AS kid
  FROM flags
),
keepers AS (SELECT doc_id FROM lab0 WHERE q AND doc_id = kid),
ksig AS (SELECT s.* FROM sig s JOIN keepers k USING (doc_id)),
kband AS (
  {_banded_sql("ksig")}
),
fdup AS (
  SELECT DISTINCT r.doc_id
  FROM kband l
  JOIN kband r ON l.band = r.band AND l.band_hash = r.band_hash
              AND l.doc_id < r.doc_id
  JOIN ksig ls ON ls.doc_id = l.doc_id
  JOIN ksig rs ON rs.doc_id = r.doc_id
  WHERE {n_match} >= {_PIPE_FUZZY_MIN_MATCH}
),
evalfp AS (
  SELECT DISTINCT {_FP5} AS fpk FROM documents
  WHERE text IS NOT NULL AND source IN {_EVAL_SRC}
),
lab AS (
  SELECT lab0.source, lab0.n_tokens,
         lab0.q,
         lab0.q AND lab0.doc_id = lab0.kid AS is_keeper,
         fdup.doc_id IS NOT NULL AS is_fdup,
         evalfp.fpk IS NOT NULL AS is_contam
  FROM lab0
  LEFT JOIN fdup ON lab0.doc_id = fdup.doc_id
  LEFT JOIN evalfp ON {_FP5.replace("text", "lab0.text")} = evalfp.fpk
)
SELECT source,
       COUNT(*) AS n_raw,
       COUNT(CASE WHEN q THEN 1 END) AS n_quality,
       COUNT(CASE WHEN is_keeper THEN 1 END) AS n_exact,
       COUNT(CASE WHEN is_keeper AND NOT is_fdup THEN 1 END) AS n_fuzzy,
       COUNT(CASE WHEN is_keeper AND NOT is_fdup AND NOT is_contam
             THEN 1 END) AS n_final,
       CAST(COALESCE(SUM(CASE WHEN is_keeper AND NOT is_fdup
                               AND NOT is_contam
                          THEN n_tokens END), 0) AS BIGINT) AS total_tokens
FROM lab
GROUP BY source
"""


@query("pipeline_pretrain_corpus", oracle=_pretrain_oracle())
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composite: the full pretraining-corpus build as one
    dataflow — raw → quality gate → exact dedup (md5 keeper) → fuzzy
    dedup (MinHash bands, ≥8/12 signature-component verify, later doc
    drops) → eval decontamination (first-5-token fingerprint vs the
    held-out sources) → per-source funnel report (doc counts at every
    stage + final token budget). Every stage IS its standalone
    operator's definition (quality_gate semantics, the
    dedup_keep_canonical keeper rule, minhash_signature/banded_sig,
    fp5_col), so this query certifies the stages COMPOSE — the thing
    a real curation run actually does.

    SINGLE-PASS FUNNEL SHAPE (the dq_suite_single_pass pattern): each
    doc is LABELED with its exit stage (q / is_keeper / is_fdup /
    is_contam) and ONE aggregate produces every funnel metric — the
    corpus is never re-derived per stage count. The keeper rule is a
    window min over the fingerprint partition (one 16-byte-key
    shuffle, no self-join); the fuzzy-dup id set and the eval
    fingerprint set attach as indicator left joins (both orders of
    magnitude smaller than the corpus — fdup ids ride the banding
    cut, evalfp is the held-out slice). Three corpus passes total at
    plan level: the label pass, the signature build (keepers' text),
    and the eval fingerprint scan. The 8-byte-signature frame is
    localCheckpoint'd (consumed by both band-join sides).

    Output: (source, n_raw, n_quality, n_exact, n_fuzzy, n_final,
    total_tokens) — a monotone funnel, every value an exact BIGINT.
    """
    from gmt_dbt_spark.operators.dedup import (
        _AB,
        banded_sig,
        minhash_signature,
    )
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs = docs.filter(F.col("text").isNotNull())
    train = docs.filter(~F.col("source").isin(EVAL_SRC_LIST))
    flags = (
        train.withColumn("toks", tokens_col(F.col("text")))
        .withColumn("n_tokens", F.size("toks"))
        .withColumn(
            "q",
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.length("text") >= MIN_CHARS),
        )
        .withColumn("fp", F.md5("text"))
    )
    lab0 = flags.withColumn(
        "kid",
        F.min(F.when(F.col("q"), F.col("doc_id"))).over(
            Window.partitionBy("fp")
        ),
    )
    keepers = lab0.filter(F.col("q") & (F.col("doc_id") == F.col("kid")))

    sig = minhash_signature(keepers, "doc_id", "text").localCheckpoint(eager=True)
    banded = banded_sig(sig)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )
    ls = sig.select(
        F.col("__id").alias("id_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(len(_AB))],
    )
    rs = sig.select(
        F.col("__id").alias("id_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(len(_AB))],
    )
    n_match = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(len(_AB))
    )
    fdup = (
        cand.join(ls, "id_a")
        .join(rs, "id_b")
        .filter(n_match >= _PIPE_FUZZY_MIN_MATCH)
        .select(F.col("id_b").alias("doc_id"), F.lit(True).alias("__fd"))
        .distinct()
    )
    evalfp = (
        docs.filter(F.col("source").isin(EVAL_SRC_LIST))
        .select(fp5_col().alias("fpk"))
        .distinct()
        .withColumn("__ct", F.lit(True))
    )
    # NO broadcast hint on fdup (the r2 forced-broadcast lesson): the
    # fuzzy-dup id set is O(n) on a dup-heavy corpus, so a hint is the
    # customer-dim OOM pattern at 100 TB — AQE broadcasts it while it
    # fits and degrades to a shuffled join when it doesn't. evalfp IS
    # hinted: held-out eval corpora are small by design (same
    # justification as dedup_cross_corpus's broadcast eval side).
    lab = (
        lab0.join(fdup, "doc_id", "left")
        .join(
            F.broadcast(evalfp),
            fp5_col() == F.col("fpk"),
            "left",
        )
        .select(
            "source",
            "n_tokens",
            "q",
            (F.col("q") & (F.col("doc_id") == F.col("kid"))).alias("is_keeper"),
            F.coalesce("__fd", F.lit(False)).alias("is_fdup"),
            F.coalesce("__ct", F.lit(False)).alias("is_contam"),
        )
    )
    final = F.col("is_keeper") & ~F.col("is_fdup") & ~F.col("is_contam")
    return lab.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(F.col("q"), 1)).alias("n_quality"),
        F.count(F.when(F.col("is_keeper"), 1)).alias("n_exact"),
        F.count(
            F.when(F.col("is_keeper") & ~F.col("is_fdup"), 1)
        ).alias("n_fuzzy"),
        F.count(F.when(final, 1)).alias("n_final"),
        F.coalesce(
            F.sum(F.when(final, F.col("n_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("total_tokens"),
    )


@query(
    "pack_attention_layout",
    oracle=f"""
WITH p AS (
  SELECT source, doc_id, tok, pack_id,
         run_excl - pack_id * {PACK_BUDGET} AS off
  FROM {_pack_sql(" WHERE text IS NOT NULL")} f
)
SELECT source, pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS pack_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       string_agg(CAST(off AS VARCHAR), ',' ORDER BY off) AS boundaries,
       CAST(GREATEST(MAX(off + tok) - {PACK_BUDGET}, 0) AS BIGINT)
         AS overflow_tokens
FROM p
GROUP BY source, pack_id
""",
)
def pack_attention_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-pack BOUNDARY LAYOUT a doc-masked training job
    consumes: for every pack produced by `pack_sequences`' contiguous
    fill, the within-pack start offset of each document (the points
    where the attention mask resets), plus the pack's token total and
    its tail overflow past the 2048 budget (the contiguous-fill
    semantic lets the LAST doc run past the window edge — reported,
    not hidden, so the loader knows how much to truncate or shift).

    Boundaries are serialized as a comma-joined ascending offset list
    (the agg_collect convention — never a raw array output column);
    offsets derive from `pack_frame` — the SAME shared definition
    `pack_sequences` uses (one implementation since the r5 review:
    assignment and layout are structurally incapable of disagreeing).
    NULL-text docs are filtered on both engines (r5 review, the
    empty-aggregate asymmetry: Spark's array_join over a null-skipped
    collect_list is '' while DuckDB's string_agg over all-NULLs is
    NULL — the fn_array_set empty-serialization class again);
    filtering before the window leaves every other doc's running sum
    unchanged (NULL tok never contributed). Scale shape: one window
    (single shuffle on source) + one same-keyed groupBy, plan-pinned
    at exactly ONE Exchange; no data beyond (source, doc_id, tok)
    ever shuffles."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    g = pack_frame(docs).withColumn(
        "off", F.col("run_excl") - F.col("pack_id") * PACK_BUDGET
    )
    return g.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("off")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("boundaries"),
        F.greatest(
            F.max(F.col("off") + F.col("tok")) - F.lit(PACK_BUDGET), F.lit(0)
        )
        .cast("bigint")
        .alias("overflow_tokens"),
    )


# Decontamination window width. Production pipelines use 10-13-word
# windows (GPT-3 appendix C / Llama eval decontamination); 8 keeps the
# synthetic fixture's planted overlaps observable while exercising the
# identical plan. One knob, shared by query and oracle.
DECON_N = 8

_DECON_GRAMS = " || ' ' || ".join(f"tk[i+{j}]" for j in range(1, DECON_N + 1))

_DECON_ORACLE = f"""
WITH t0 AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(lower(regexp_replace(text,
             '[^a-zA-Z0-9 ]', ' ', 'g'))), ' +'), t -> t <> '') AS tk
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, source, unnest(CASE WHEN len(tk) >= {DECON_N}
      THEN list_transform(range(len(tk) - {DECON_N - 1}), i -> {_DECON_GRAMS})
      -- COALESCE: array_to_string([], ' ') is NULL in DuckDB vs ''
      -- from Spark concat_ws (the shingle_rows fallback contract)
      ELSE [COALESCE(array_to_string(tk, ' '), '')] END) AS s
  FROM t0
),
tr AS (SELECT doc_id, md5(s) AS k FROM g
       WHERE source NOT IN {_EVAL_SRC}),
ev AS (SELECT doc_id AS eval_id, md5(s) AS k FROM g
       WHERE source IN {_EVAL_SRC}),
j AS (SELECT tr.doc_id, tr.k, ev.eval_id FROM tr LEFT JOIN ev USING (k)),
per AS (
  SELECT doc_id,
         CAST(COUNT(DISTINCT k) AS BIGINT) AS n_grams,
         CAST(COUNT(DISTINCT CASE WHEN eval_id IS NOT NULL THEN k END)
              AS BIGINT) AS n_bad_grams,
         CAST(COUNT(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
  FROM j GROUP BY doc_id
)
SELECT p.doc_id, d.source, p.n_grams, p.n_bad_grams, p.n_eval_docs
FROM per p JOIN documents d USING (doc_id)
WHERE p.n_bad_grams >= 1
"""


@query("pipeline_decontaminate", oracle=_DECON_ORACLE)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by WINDOWED n-gram overlap — the
    GPT-3/Llama-style gate `dedup_cross_corpus` approximates with a
    single first-5-token fingerprint: here EVERY sliding DECON_N-word
    window of every train document is checked against every window of
    the eval suite, so contamination buried mid-document (the case a
    head fingerprint structurally misses) is caught. The surface is
    the contamination report a pipeline acts on: each flagged train
    doc with its total window count, contaminated-window count, and
    the number of distinct eval docs hit (standard policy drops any
    doc with n_bad_grams >= 1; the counts let a softer policy
    threshold on the contaminated fraction instead).

    Plan shape: `shingle_rows` builds windows scan-side (zip_with
    slices, zero shuffles — see dedup.py), each window immediately
    reduced to a fixed-width md5 key, so nothing wider than 32 hex
    chars ever leaves the scan. The eval side BROADCASTS (eval
    suites are a few thousand docs; even 10M windows fit the 8 GB
    broadcast ceiling at ~50 B/key — past that the same plan runs as
    a shuffled equi-join of keys, never of text). One shuffle total:
    the per-train-doc groupBy; the closing source join-back
    broadcasts the flagged-doc report (small by construction).
    Exact-replay oracle: md5 windows are engine-neutral, so DuckDB
    replays the FULL pipeline — no sampling, no slice.

    Collision note: full-md5 keys (128-bit), not the 31-bit reduced
    family the MinHash estimator uses — decontamination is a REMOVAL
    gate, and a 31-bit collision at 100 TB would silently drop clean
    training docs; at 128 bits the expected collision count across
    10^12 windows is ~10^-14."""
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(~F.col("source").isin(EVAL_SRC_LIST))
    ev = docs.filter(F.col("source").isin(EVAL_SRC_LIST))
    tr_g = shingle_rows(train, "doc_id", "text", n=DECON_N).select(
        F.col("__id").alias("doc_id"), F.md5("__sh").alias("k")
    )
    ev_g = shingle_rows(ev, "doc_id", "text", n=DECON_N).select(
        F.col("__id").alias("eval_id"), F.md5("__sh").alias("k")
    )
    per = (
        tr_g.join(F.broadcast(ev_g), "k", "left")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("k").alias("n_grams"),
            F.countDistinct(
                F.when(F.col("eval_id").isNotNull(), F.col("k"))
            ).alias("n_bad_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_bad_grams") >= 1)
    )
    return docs.select("doc_id", "source").join(F.broadcast(per), "doc_id")


@query(
    "pack_concat_chunk",
    oracle=f"""
SELECT source, doc_id, tok,
       pack_id AS first_chunk,
       CAST(FLOOR((run_excl + tok - 1) / {PACK_BUDGET}.0) AS BIGINT)
         AS last_chunk,
       CAST(FLOOR((run_excl + tok - 1) / {PACK_BUDGET}.0) AS BIGINT)
         - pack_id + 1 AS n_chunks,
       CAST(run_excl - pack_id * {PACK_BUDGET} AS BIGINT) AS head_off,
       (CAST(FLOOR((run_excl + tok - 1) / {PACK_BUDGET}.0) AS BIGINT)
         > pack_id) AS is_split
FROM {{_PACK}} p
""".replace("{_PACK}", _pack_sql()),
)
def pack_concat_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing — the OTHER standard training layout
    (GPT-style): the per-source token stream is conceptually
    concatenated and cut at EXACT PACK_BUDGET boundaries, docs
    splitting across chunks (vs `pack_sequences`, which assigns each
    whole doc to the pack where it starts and lets the tail overflow).
    Per doc: the chunk span [first_chunk, last_chunk], how many
    chunks it straddles, its offset inside the first chunk, and the
    is_split flag a doc-masked loader uses to decide truncate vs
    carry. All derived from the SAME `pack_frame` running sum the
    other two pack surfaces use — the three layouts are structurally
    incapable of disagreeing about where a doc's tokens sit.

    Arithmetic is exact on both engines: the only division is
    floor(x / 2048.0) with x ≤ 2⁵³ (constant-IEEE, the pack_frame
    rule); everything else is bigint add/multiply. NULL-text docs
    ride through with NULL spans, symmetrically (the pack_sequences
    contract). Scale shape: ONE shuffle (the per-source window) and a
    pure projection after it — strictly cheaper than
    pack_attention_layout (no second aggregate)."""
    g = pack_frame(table(spark, sf_dir, "documents"))
    last = F.floor(
        (F.col("run_excl") + F.col("tok") - 1) / F.lit(float(PACK_BUDGET))
    ).cast("bigint")
    return g.select(
        "source",
        "doc_id",
        "tok",
        F.col("pack_id").alias("first_chunk"),
        last.alias("last_chunk"),
        (last - F.col("pack_id") + 1).alias("n_chunks"),
        (F.col("run_excl") - F.col("pack_id") * PACK_BUDGET).alias("head_off"),
        (last > F.col("pack_id")).alias("is_split"),
    )


@query(
    "pipeline_token_budget",
    oracle=f"""
WITH t AS (
  SELECT source, lang, len({_DUCK_TOKENS}) AS n_tok,
         length(text) AS n_chars
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM t GROUP BY source, lang
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM g)
SELECT g.source, g.lang, g.n_docs, g.n_tokens, g.sum_chars,
       tot.corpus_tokens
FROM g, tot
""",
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting — the report every pretraining run
    starts from: per (source, lang), document/token/char totals plus
    the corpus-wide token total on every row (the denominator for mix
    shares — emitted as the exact bigint, never a divided float; the
    mixture planners `sample_mixture_unimax`/`sample_temperature`
    consume these counts directly).

    Scale shape: ONE corpus scan producing a (sources × langs)-row
    aggregate (map-side partial combine, fixed-width rows), which is
    checkpointed — it is bounded by label cardinality, not data — and
    consumed twice (the rows and their grand total) without
    re-scanning; the 1-row total attaches by broadcast cross join."""
    d = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    g = (
        d.select(
            "source",
            "lang",
            F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_tok"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .localCheckpoint(eager=True)
    )
    tot = g.agg(F.sum("n_tokens").cast("bigint").alias("corpus_tokens"))
    return g.crossJoin(F.broadcast(tot))


_FEATURE_7D_US = 7 * 86400 * 1_000_000  # trailing feature window, micros

_FEATURE_SNAPSHOT_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(epoch_us(ts) AS BIGINT) AS tsm,
         CAST(floor(value * 1000.0) AS BIGINT) AS vmilli
  FROM events
),
f AS (
  SELECT event_id, user_id, event_type, tsm, vmilli,
     CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END) OVER wr, 0)
          AS BIGINT) AS n_views_7d,
     CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END) OVER wr, 0)
          AS BIGINT) AS n_clicks_7d,
     CAST(COALESCE(SUM(vmilli) OVER wr, 0) AS BIGINT) AS value_7d_milli,
     CAST(COUNT(*) OVER wp AS BIGINT) AS n_events_prior
  FROM e
  WINDOW wr AS (PARTITION BY user_id ORDER BY tsm
                RANGE BETWEEN {_FEATURE_7D_US} PRECEDING AND 1 PRECEDING),
         wp AS (PARTITION BY user_id ORDER BY tsm, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS label_id, user_id, tsm,
       n_views_7d, n_clicks_7d, value_7d_milli, n_events_prior,
       vmilli AS label_value_milli
FROM f WHERE event_type = 'purchase'
"""


@query("pipeline_feature_snapshot", oracle=_FEATURE_SNAPSHOT_ORACLE)
def pipeline_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training-set assembly — the leakage-free feature
    snapshot every tabular/behavioral model pipeline needs: for each
    label event (purchase), the features are computed from STRICTLY
    EARLIER events only — trailing-7-day view/click counts and spend
    (RANGE frame ending at 1 microsecond PRECEDING: an event
    co-timestamped with the label can never leak into its features,
    identically on both engines) plus the lifetime prior-event count
    (ROWS frame with the (tsm, event_id) total order). This is the
    feature-store 'as-of' semantics done as ONE window pass instead
    of a per-label point-in-time join.

    Exactness: time is integer microseconds (unix_micros/epoch_us),
    money is milli-units (floor(value·1000) — IEEE multiply+floor,
    the house convention), frames are integer-offset windows — every
    feature value-hashes. Scale shape: ONE shuffle (user_id); both
    window specs share its partitioning, and the label filter prunes
    AFTER the windows (features need the non-label events) but before
    anything else — output is |purchases| rows, features never
    materialize for non-label rows beyond the window pass."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("tsm"),
        F.floor(F.col("value") * 1000.0).cast("bigint").alias("vmilli"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("tsm")
        .rangeBetween(-_FEATURE_7D_US, -1)
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("tsm", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = e.select(
        "event_id",
        "user_id",
        "event_type",
        "tsm",
        "vmilli",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", 1)).over(wr), F.lit(0)
        )
        .cast("bigint")
        .alias("n_views_7d"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "click", 1)).over(wr), F.lit(0)
        )
        .cast("bigint")
        .alias("n_clicks_7d"),
        F.coalesce(F.sum("vmilli").over(wr), F.lit(0))
        .cast("bigint")
        .alias("value_7d_milli"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_events_prior"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_id"),
        "user_id",
        "tsm",
        "n_views_7d",
        "n_clicks_7d",
        "value_7d_milli",
        "n_events_prior",
        F.col("vmilli").alias("label_value_milli"),
    )


N_EPOCH_SHARDS = 16
N_EPOCHS = 3

_EPOCH_SHUFFLE_ORACLE = f"""
WITH d AS (SELECT doc_id FROM documents),
s AS (
  SELECT d.doc_id, e.i AS epoch,
         (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
              || CAST(e.i AS VARCHAR)), 1, 8) AS BIGINT)) % {N_EPOCH_SHARDS}
           AS shard
  FROM d, LATERAL (SELECT unnest(range({N_EPOCHS})) AS i) e
),
m AS (
  SELECT cur.doc_id, cur.epoch, cur.shard,
         CASE WHEN cur.epoch = 0 THEN NULL
              ELSE (cur.shard <> prev.shard) END AS moved
  FROM s cur
  LEFT JOIN s prev
    ON prev.doc_id = cur.doc_id AND prev.epoch = cur.epoch - 1
)
SELECT CAST(epoch AS INTEGER) AS epoch,
       CAST(shard AS INTEGER) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(COALESCE(SUM(CASE WHEN moved THEN 1 END), 0) AS BIGINT)
         AS n_moved
FROM m
GROUP BY epoch, shard
"""


@query("sample_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-wise reshuffling — the data-loader shuffle
    done the distributed way: shard(doc, epoch) = md5(doc_id:epoch)
    mod N_SHARDS, a pure scan-side key that is (a) REPRODUCIBLE — any
    worker, any restart, any partitioning recomputes the same epoch
    order, unlike `df.sample`/`rand()` — and (b) DECORRELATED across
    epochs (a fresh permutation per epoch is what breaks batch-order
    memorization between passes). The audit surface proves both
    properties per (epoch, shard): doc count and id-checksum pin the
    exact assignment (determinism), `n_moved` counts docs whose shard
    CHANGED vs the previous epoch (decorrelation — expect ≈
    (1−1/N_SHARDS) of docs to move; a broken epoch-salt would show
    n_moved = 0).

    Scale shape: all three epoch keys are md5 projections computed in
    one scan (the LATERAL/explode is 3× row inflation of doc_ids
    only, never text); the per-doc epoch-to-epoch comparison is a
    self-join on (doc_id, epoch−1) that AQE plans from fixed-width
    ids; one aggregate of 3×N_SHARDS output rows."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    shard = lambda e: F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(str(e)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(N_EPOCH_SHARDS),
    )
    s = docs.select(
        "doc_id",
        F.posexplode(
            F.array(*[shard(e) for e in range(N_EPOCHS)])
        ).alias("epoch", "shard"),
    )
    cur, prev = s.alias("cur"), s.alias("prev")
    m = cur.join(
        prev,
        (F.col("prev.doc_id") == F.col("cur.doc_id"))
        & (F.col("prev.epoch") == F.col("cur.epoch") - 1),
        "left",
    ).select(
        F.col("cur.doc_id").alias("doc_id"),
        F.col("cur.epoch").alias("epoch"),
        F.col("cur.shard").alias("shard"),
        F.when(F.col("cur.epoch") == 0, F.lit(None).cast("boolean"))
        .otherwise(F.col("cur.shard") != F.col("prev.shard"))
        .alias("moved"),
    )
    return m.groupBy(
        F.col("epoch").cast("int").alias("epoch"),
        F.col("shard").cast("int").alias("shard"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.coalesce(
            F.sum(F.when(F.col("moved"), 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_moved"),
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select pretraining documents whose hashed n-gram
# feature distribution looks like a TARGET domain. The production
# pipeline estimates two bag-of-hashed-features unigram LMs (target
# and raw pool), scores every raw doc by its importance log-ratio
# log p_tgt(doc) − log p_raw(doc), and keeps the top slice.

DSIR_BUCKETS = 1024  # hashed feature space (2^10 buckets)
DSIR_KEEP_DEN = 4  # keep the top quartile of the scored pool


def _dsir_oracle() -> str:
    from gmt_dbt_spark.functions.tokenizer import _uni_ilog2_sql as il

    h = (
        "((CAST('0x' || substr(md5(tk), 1, 8) AS BIGINT)) % 2147483647)"
        f" % {DSIR_BUCKETS}"
    )
    return f"""
WITH tgt AS (SELECT MIN(source) AS t FROM documents),
tok AS (
  SELECT doc_id, source, {h} AS b
  FROM (SELECT doc_id, source, unnest({_DUCK_TOKENS}) AS tk
        FROM documents WHERE source IS NOT NULL)
),
cnt AS (
  SELECT b,
         CAST(SUM(CASE WHEN source = tgt.t THEN 1 ELSE 0 END) AS BIGINT)
           AS tc,
         CAST(SUM(CASE WHEN source <> tgt.t THEN 1 ELSE 0 END) AS BIGINT)
           AS sc
  FROM tok CROSS JOIN tgt GROUP BY b
),
tot AS (
  SELECT CAST(COALESCE(SUM(tc), 0) + {DSIR_BUCKETS} AS BIGINT) AS tn,
         CAST(COALESCE(SUM(sc), 0) + {DSIR_BUCKETS} AS BIGINT) AS sn
  FROM cnt
),
w AS (
  SELECT b, CAST({il('(tc + 1)')} - {il('tn')}
                 - {il('(sc + 1)')} + {il('sn')} AS BIGINT) AS w
  FROM cnt CROSS JOIN tot
),
scs AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w.w) AS BIGINT) AS score_fp
  FROM tok t JOIN w USING (b) CROSS JOIN tgt
  WHERE t.source <> tgt.t
  GROUP BY t.doc_id
),
spine AS (
  SELECT doc_id FROM documents CROSS JOIN tgt
  WHERE source IS NOT NULL AND source <> tgt.t
),
ranked AS (
  SELECT doc_id, n_tokens, score_fp,
         CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS nsc
  FROM scs
)
SELECT s.doc_id,
       COALESCE(r.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       r.score_fp, r.rn,
       COALESCE({DSIR_KEEP_DEN} * r.rn <= r.nsc + {DSIR_KEEP_DEN} - 1,
                FALSE) AS keep
FROM spine s LEFT JOIN ranked r USING (doc_id)
"""


@query("pipeline_dsir", oracle=_dsir_oracle())
def pipeline_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-weighted data selection (header above): score
    every raw-pool document by the hashed-unigram importance
    log-ratio against the target domain; keep the top quartile.

    Registered stand-in for the target domain: the lexicographically
    smallest `source` (deterministic, data-derived on both engines —
    production passes the real target relation, e.g. Wikipedia;
    everything downstream is identical). NULL-source docs are
    excluded from domain and pool alike, by spec.

    Exactness: per-bucket weights are ALL-INTEGER fixed-point log2
    (the unigram trainer's ilog2 contract, add-1 smoothing over
    DSIR_BUCKETS):  w_b = ilog2(tc_b+1) − ilog2(T+B) − ilog2(sc_b+1)
    + ilog2(S+B);  a doc's score is the exact bigint sum of its
    tokens' w_b. The keep rule is rank-based (rn ≤ ceil(N/4) via the
    integer form 4·rn ≤ N+3) — the deterministic value-hashed twin
    of the paper's Gumbel-noise resampling, same doctrine as
    text_ppl_filter's tercile rank standing in for the production
    2-pass threshold split.

    Scale shape: TWO corpus scans (LM estimation, scoring — the
    pipeline_pretrain_corpus 2-scan funnel; tokens reduce to 10-bit
    bucket ids AT THE SCAN, so both shuffles carry (doc_id, int)
    pairs, never strings); the bucket-count relation is ≤1024 rows —
    collected driver-side (the model, not the data), weights computed
    in Python ilog2 and re-broadcast as a 1024-row join side. The
    global rank is `scored_global_rank` (r10; the r9 draft's single
    unpartitioned window was a corpus-wide sort): approx-percentile
    score buckets + broadcast cumulative offsets — exact ROW_NUMBER
    over the (doc_id, 2 ints) scored relation, no single-task sort
    (rank.py has the proof sketch). Empty pool (single-source
    corpus) → empty result on both engines."""
    from gmt_dbt_spark.functions.tokenizer import _uni_ilog2
    from gmt_dbt_spark.rank import scored_global_rank
    from gmt_dbt_spark.operators.dedup import shingle_hash

    docs = table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    schema = (
        "doc_id bigint, n_tokens bigint, score_fp bigint, rn bigint,"
        " keep boolean"
    )
    tgt = docs.agg(F.min("source").alias("t")).collect()[0]["t"]
    if tgt is None:
        return spark.createDataFrame([], schema)
    tok = docs.select(
        "doc_id",
        (F.col("source") == tgt).alias("is_tgt"),
        F.explode(tokens_col(F.col("text"))).alias("tk"),
    ).select(
        "doc_id",
        "is_tgt",
        (shingle_hash("tk") % DSIR_BUCKETS).alias("b"),
    )
    cnt = (
        tok.groupBy("b")
        .agg(
            F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("tc"),
            F.sum(F.when(~F.col("is_tgt"), 1).otherwise(0)).alias("sc"),
        )
        .collect()
    )
    tn = sum(int(r["tc"]) for r in cnt) + DSIR_BUCKETS
    sn = sum(int(r["sc"]) for r in cnt) + DSIR_BUCKETS
    ltn, lsn = _uni_ilog2(tn), _uni_ilog2(sn)
    wrows = [
        (
            int(r["b"]),
            _uni_ilog2(int(r["tc"]) + 1)
            - ltn
            - _uni_ilog2(int(r["sc"]) + 1)
            + lsn,
        )
        for r in cnt
    ]
    if not wrows:
        # token-less corpus: every pool doc scores NULL, keeps false
        return docs.filter(F.col("source") != tgt).select(
            "doc_id",
            F.lit(0).cast("bigint").alias("n_tokens"),
            F.lit(None).cast("bigint").alias("score_fp"),
            F.lit(None).cast("bigint").alias("rn"),
            F.lit(False).alias("keep"),
        )
    w = F.broadcast(spark.createDataFrame(wrows, "b int, w bigint"))
    scored = (
        tok.filter(~F.col("is_tgt"))
        .join(w, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").cast("bigint").alias("score_fp"),
        )
        # (doc_id, 2 ints), consumed twice by the two-phase rank
        # (cutpoint aggregate + the ranked pass)
        .localCheckpoint(eager=True)
    )
    ranked = scored_global_rank(
        scored, "score_fp", "doc_id", total_name="nsc"
    )
    spine = docs.filter(F.col("source") != tgt).select("doc_id")
    return spine.join(ranked, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("bigint")).alias(
            "n_tokens"
        ),
        "score_fp",
        "rn",
        F.coalesce(
            DSIR_KEEP_DEN * F.col("rn") <= F.col("nsc") + DSIR_KEEP_DEN - 1,
            F.lit(False),
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Group-aware train/test split — the dedup-aware leakage guard (Lee et
# al. 2022 §6 showed near-identical train/test docs inflate eval):
# hashing DOC IDs into splits lets byte-identical documents straddle
# train and test; hashing the content-GROUP key cannot.

SPLIT_BUCKETS = 10
SPLIT_TRAIN_BUCKETS = 8  # 80/20


_GROUP_SPLIT_ORACLE = f"""
WITH g AS (
  SELECT doc_id, md5(COALESCE(text, '')) AS fpn FROM documents
),
sized AS (
  SELECT doc_id, fpn,
         CAST(COUNT(*) OVER (PARTITION BY fpn) AS BIGINT) AS n_group
  FROM g
)
SELECT doc_id, fpn, n_group,
       CASE WHEN (CAST('0x' || substr(md5('split:' || fpn), 1, 8) AS BIGINT))
                 % {SPLIT_BUCKETS} < {SPLIT_TRAIN_BUCKETS}
            THEN 'train' ELSE 'test' END AS split
FROM sized
"""


@query("pipeline_group_split", oracle=_GROUP_SPLIT_ORACLE)
def pipeline_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split (header above): every document
    is assigned train/test by hashing its CONTENT-GROUP key (md5 of
    the coalesced text — the dedup_exact fingerprint, NULL and ''
    merging into one group by spec), salted and bucketed 8/2 — so
    byte-identical duplicates structurally CANNOT straddle the
    split, which `pipeline_train_test_split`'s per-doc-id hash
    (kept as the iid baseline) does not guarantee. Surface carries
    the group fingerprint and group size so the consumer can audit
    residual near-dup leakage with the fuzzy family.

    Scale: one shuffle on the 16-byte fingerprint (the group-size
    window); the split decision is pure projection. Production note:
    for NEAR-dup-proof splits, substitute the dedup_clusters
    component id for fpn — the plan is identical."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    fpn = F.md5(F.coalesce(F.col("text"), F.lit("")))
    b = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), F.col("fpn"))), 1, 8),
            16,
            10,
        ).cast("bigint"),
        F.lit(SPLIT_BUCKETS),
    )
    return (
        docs.select("doc_id", fpn.alias("fpn"))
        .withColumn(
            "n_group",
            F.count(F.lit(1)).over(Window.partitionBy("fpn")).cast("bigint"),
        )
        .select(
            "doc_id",
            "fpn",
            "n_group",
            F.when(b < SPLIT_TRAIN_BUCKETS, F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


# ---------------------------------------------------------------------------
# No-split packing audit (r7): the pack family above SPLITS documents
# across budget boundaries (concat-and-chunk — zero waste by
# construction). Training recipes that forbid splitting (docs must
# stay contiguous in one context window) pay real waste instead, and
# the standard cheap layout is NEXT-FIT-DECREASING: sort docs by
# token length descending, scan once, open a new bin when the
# current one can't take the next doc. NFD is inherently SEQUENTIAL
# (each bin boundary depends on the waste before it — no
# floor(cumsum/budget) closed form exists), so this operator uses the
# sanctioned custom-operator seam: applyInPandas per source, fed ONLY
# (doc_id, tok) int pairs — document bodies never reach Python.


def _pack_nfd(pdf):
    """Per-source NFD scan (runs inside applyInPandas; imports only
    pandas, safe for executor re-import)."""
    import pandas as pd

    d = pdf.sort_values(["tok", "doc_id"], ascending=[False, True])
    cur = bins = waste = 0
    b = int(d["budget"].iloc[0])
    for t in d["tok"]:
        t = int(t)
        if bins == 0 or cur + t > b:
            if bins > 0:
                waste += max(b - cur, 0)
            bins += 1
            cur = t
        else:
            cur += t
    if bins > 0:
        waste += max(b - cur, 0)
    total = int(d["tok"].sum())
    return pd.DataFrame(
        {
            "source": [d["source"].iloc[0]],
            "n_docs": [len(d)],
            "total_tok": [total],
            "bins_nfd": [bins],
            "lb_bins": [-(-total // b)],
            "waste_tok": [waste],
            "n_oversize": [int((d["tok"] > b).sum())],
        }
    )


_NFD_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
             length(text) - length(replace(text, ' ', '')) + 1 DESC,
             doc_id) AS rn
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT source, 0 AS rn, CAST(0 AS BIGINT) AS cur,
         CAST(0 AS BIGINT) AS bins, CAST(0 AS BIGINT) AS waste
  FROM (SELECT DISTINCT source FROM t)
  UNION ALL
  SELECT r.source, r.rn + 1,
         CASE WHEN r.bins = 0 OR r.cur + t.tok > {PACK_BUDGET}
              THEN t.tok ELSE r.cur + t.tok END,
         CASE WHEN r.bins = 0 OR r.cur + t.tok > {PACK_BUDGET}
              THEN r.bins + 1 ELSE r.bins END,
         r.waste + CASE WHEN r.bins > 0 AND r.cur + t.tok > {PACK_BUDGET}
                        THEN GREATEST({PACK_BUDGET} - r.cur, 0)
                        ELSE CAST(0 AS BIGINT) END
  FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1
),
fin AS (
  SELECT source, cur, bins, waste,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY rn DESC) AS rr
  FROM r
),
st AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tok) AS BIGINT) AS total_tok,
         CAST(count_if(tok > {PACK_BUDGET}) AS BIGINT) AS n_oversize
  FROM t GROUP BY source
)
SELECT f.source, st.n_docs, st.total_tok,
       f.bins AS bins_nfd,
       CAST(CEIL(st.total_tok / {PACK_BUDGET}.0) AS BIGINT) AS lb_bins,
       f.waste + CASE WHEN f.bins > 0
                      THEN GREATEST({PACK_BUDGET} - f.cur, 0)
                      ELSE CAST(0 AS BIGINT) END AS waste_tok,
       st.n_oversize
FROM fin f JOIN st USING (source)
WHERE f.rr = 1
"""


@query("pack_nfd_audit", oracle=_NFD_ORACLE)
def pack_nfd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit-decreasing no-split packing audit (header above): per
    source, the bins NFD uses, the token lower bound ceil(total/B),
    the waste (unused tokens across closed bins — what no-split
    training actually pays vs concat-chunk's zero), and the count of
    budget-oversize docs (each forced into its own over-full bin,
    contributing zero waste by the max(B−cur, 0) rule).

    Seam: the scan is genuinely sequential, so it runs applyInPandas
    per source over (doc_id, tok) ONLY — 16 bytes per doc in Python,
    never text (at production scale a source shards first; the audit
    then runs per shard and bins/waste simply sum). DuckDB replays
    the identical scan as a breadth-first recursive CTE carrying
    (cur, bins, waste) — no lambdas (the Pattern-11 house rule).
    NULL-text docs are excluded by spec on both engines. Ordering
    (tok DESC, doc_id) totally orders every scan step, so the fold
    and the recursion cannot diverge."""
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + F.lit(1)
    ).cast("bigint")
    t = docs.select(
        "source",
        "doc_id",
        tok.alias("tok"),
        F.lit(PACK_BUDGET).alias("budget"),
    )
    return t.groupBy("source").applyInPandas(
        _pack_nfd,
        "source string, n_docs bigint, total_tok bigint, bins_nfd bigint,"
        " lb_bins bigint, waste_tok bigint, n_oversize bigint",
    )


def _source_overlap_oracle() -> str:
    from gmt_dbt_spark.operators.stats import KMV_K

    K = KMV_K
    est = (
        "CASE WHEN {p}k_used < {K} THEN {p}k_used "
        "ELSE CAST((CAST({K} - 1 AS HUGEINT) * (CAST(1 AS HUGEINT) << 60))"
        " // {p}h_k AS BIGINT) END"
    )
    eu = est.format(p="us.", K=K)
    return f"""
WITH t AS (
  SELECT source, {_DUCK_TOKENS} AS tk FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT source AS src,
         CAST('0x' || substr(md5(tk[CAST(u.i + 1 AS INT)] || ' ' ||
                                  tk[CAST(u.i + 2 AS INT)] || ' ' ||
                                  tk[CAST(u.i + 3 AS INT)]), 1, 15) AS BIGINT)
           AS h
  FROM (SELECT source, tk FROM t WHERE len(tk) >= 3) z,
       LATERAL (SELECT unnest(range(len(tk) - 2)) AS i) u
),
d AS (SELECT DISTINCT src, h FROM g),
r AS (
  SELECT src, h, ROW_NUMBER() OVER (PARTITION BY src ORDER BY h) AS rn FROM d
),
sk AS MATERIALIZED (SELECT src, h FROM r WHERE rn <= {K}),
ss AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS k_used, CAST(MAX(h) AS BIGINT) AS h_k
  FROM sk GROUP BY 1
),
sse AS (SELECT src, CAST({est.format(p='', K=K)} AS BIGINT) AS e FROM ss),
pr AS (SELECT a.src AS src_a, b.src AS src_b FROM ss a JOIN ss b
       ON a.src < b.src),
pu AS (
  SELECT DISTINCT src_a, src_b, h FROM (
    SELECT pr.src_a, pr.src_b, sk.h FROM pr JOIN sk ON sk.src = pr.src_a
    UNION ALL
    SELECT pr.src_a, pr.src_b, sk.h FROM pr JOIN sk ON sk.src = pr.src_b)
),
rp AS (
  SELECT src_a, src_b, h,
         ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
  FROM pu
),
pk AS MATERIALIZED (SELECT src_a, src_b, h FROM rp WHERE rn <= {K}),
us AS (
  SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS k_used,
         CAST(MAX(h) AS BIGINT) AS h_k
  FROM pk GROUP BY 1, 2
),
cm AS (
  SELECT pk.src_a, pk.src_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM pk
  JOIN sk sa ON sa.src = pk.src_a AND sa.h = pk.h
  JOIN sk sb ON sb.src = pk.src_b AND sb.h = pk.h
  GROUP BY 1, 2
)
SELECT us.src_a, us.src_b,
       ea.e AS est_a, eb.e AS est_b,
       us.k_used,
       COALESCE(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
       CAST({eu} AS BIGINT) AS est_union,
       CAST((CAST(COALESCE(cm.n_common, 0) AS HUGEINT)
             * CAST({eu} AS HUGEINT)) // us.k_used AS BIGINT) AS est_inter,
       -- ρ of the union sample; the est_union factor cancels exactly
       -- (floor((n·e·1000)/(k·e)) = floor(n·1000/k) for positives)
       CAST((COALESCE(cm.n_common, 0) * 1000) // us.k_used AS BIGINT)
         AS jaccard_milli
FROM us
LEFT JOIN cm USING (src_a, src_b)
JOIN sse ea ON ea.src = us.src_a
JOIN sse eb ON eb.src = us.src_b
"""


@query("pipeline_source_overlap", oracle=_source_overlap_oracle())
def pipeline_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair lexical-overlap matrix from KMV sketches — the
    mixture-planning input ("which of my corpora are near-copies of
    each other?") computed WITHOUT any cross-source data join: one
    K=64 bottom-k sketch of each source's distinct token-3-gram
    hashes, then every pairwise union/intersection estimate (the
    `agg_kmv_intersect` algebra) over the 190 sketch pairs — all
    K-row frames after the sketch build. Surface per (src_a, src_b):
    both sources' distinct-shingle estimates, the union sketch's
    k_used, the common-membership count, the union and intersection
    estimates, and the integer-milli Jaccard.

    Scale shape: the only corpus-sized work is the zero-shuffle
    shingle stream (`shingle_rows`) and ONE distinct aggregate;
    per-source bottom-k is the map-side WindowGroupLimit shape; the
    pairwise stage touches |sources|²·K rows of 8-byte hashes —
    independent of corpus size, the property that makes an
    every-pair overlap matrix feasible at 100 TB. Docs with < 3
    tokens are excluded (full 3-grams only, both engines —
    the `text_containment_audit` gating)."""
    from pyspark.sql import Window

    from gmt_dbt_spark.operators.stats import KMV_K, kmv_hash

    # Token-count gate applied to the MATERIALIZED array behind
    # shingle_rows' Generate barrier (r9 ADVICE fix: the old
    # pre-filter `F.size(tokens_col(text)) >= 3` inlined a SECOND
    # full tokenization into the corpus scan).
    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sh = shingle_rows(docs, "source", "text", min_tokens=3)
    d = sh.select(
        F.col("__id").alias("src"), kmv_hash(F.col("__sh")).alias("h")
    ).distinct()
    w = Window.partitionBy("src").orderBy("h")
    sk = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("src", "h")
        .localCheckpoint(eager=True)  # K·|sources| rows, read 5×
    )

    def kmv_est(k_used, h_k):
        return F.when(k_used < KMV_K, k_used).otherwise(
            F.expr(
                f"CAST((CAST({KMV_K - 1} AS DECIMAL(38,0))"
                f" * CAST({1 << 60} AS DECIMAL(38,0)))"
                f" div {h_k} AS BIGINT)"
            )
        )

    ss = sk.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("h").cast("bigint").alias("h_k"),
    )
    sse = ss.select(
        "src", kmv_est(F.col("k_used"), "h_k").cast("bigint").alias("e")
    )
    srcs = ss.select("src")
    pr = (
        srcs.select(F.col("src").alias("src_a"))
        .join(
            srcs.select(F.col("src").alias("src_b")),
            F.col("src_a") < F.col("src_b"),
        )
    )
    pu = (
        pr.join(sk.withColumnRenamed("src", "src_a"), "src_a")
        .select("src_a", "src_b", "h")
        .unionByName(
            pr.join(sk.withColumnRenamed("src", "src_b"), "src_b").select(
                "src_a", "src_b", "h"
            )
        )
        .distinct()
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("h")
    pk = (
        pu.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= KMV_K)
        .select("src_a", "src_b", "h")
        .localCheckpoint(eager=True)  # ≤ |pairs|·K rows, read 3×
    )
    us = pk.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("h").cast("bigint").alias("h_k"),
    )
    cm = (
        pk.join(
            sk.withColumnRenamed("src", "src_a"), ["src_a", "h"], "left_semi"
        )
        .join(
            sk.withColumnRenamed("src", "src_b"), ["src_b", "h"], "left_semi"
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    eu = kmv_est(F.col("k_used"), "h_k")
    out = (
        us.join(cm, ["src_a", "src_b"], "left")
        .withColumn(
            "n_common",
            F.coalesce("n_common", F.lit(0).cast("bigint")),
        )
        .join(
            sse.select(F.col("src").alias("src_a"), F.col("e").alias("est_a")),
            "src_a",
        )
        .join(
            sse.select(F.col("src").alias("src_b"), F.col("e").alias("est_b")),
            "src_b",
        )
        .withColumn("est_union", eu.cast("bigint"))
        .withColumn(
            "est_inter",
            F.expr(
                "CAST((CAST(n_common AS DECIMAL(38,0))"
                " * est_union) div k_used AS BIGINT)"
            ),
        )
        .withColumn(
            "jaccard_milli",
            F.expr("CAST((n_common * 1000) div k_used AS BIGINT)"),
        )
    )
    return out.select(
        "src_a",
        "src_b",
        "est_a",
        "est_b",
        "k_used",
        "n_common",
        "est_union",
        "est_inter",
        "jaccard_milli",
    )

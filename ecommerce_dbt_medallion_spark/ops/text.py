"""Text-analysis + exact/ngram dedup operators over ``documents`` —
the LLM-training-pipeline surface (SURVEY.md §2 #15, #18, #22-25).

All operators are built-in Column expressions (JVM codegen, zero Python
in the hot path) and scale as single-shuffle plans. Each has a DuckDB
oracle generated from the SAME regex/constant definitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.sources.registry import load_table

WORD_RE = r"\w+"
PUNCT_RE = r"[^\w\s]"
BPE_ISH_RE = r"\w+|[^\w\s]"  # GPT-2-style pre-tokenizer approximation
NON_ALPHA_RE = "[^a-zA-Z]"
WS_RE = r"\s+"

# Stopword alternations per language (word-boundary, on lower(text)).
LANG_STOPWORDS = {
    "de": r"\b(der|die|das|und|ist|ein|eine|nicht)\b",
    "en": r"\b(the|a|and|of|to|in|is|it)\b",
    "es": r"\b(el|la|los|las|y|es|un|una)\b",
    "fr": r"\b(le|la|les|et|est|un|une|dans)\b",
}
EN_STOPWORDS_RE = LANG_STOPWORDS["en"]

NGRAM_N = 3
NGRAM_JACCARD_THRESHOLD = 0.5
NGRAM_MAX_DF = 50  # blocking: only grams shared by <= this many docs seed pairs


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _norm_text(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, WS_RE, " ")))


def _r4(c: Column) -> Column:
    return F.round(c, 4)


# ------------------------------------------------------------ token stats

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#22: whitespace + word/punct regex token counting per document."""
    words = F.regexp_extract_all(F.col("text"), F.lit(WORD_RE), F.lit(0))
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    n_words = F.size(words)
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split(F.trim(F.col("text")), WS_RE)).cast("long").alias("n_tokens_ws"),
        n_words.cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_RE), F.lit(0))).cast("long").alias("n_punct"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_RE), F.lit(0))).cast("long").alias("n_tokens_bpe"),
        _r4(word_chars.cast("double") / F.when(n_words != 0, n_words)).alias("avg_word_len"),
    )


def oracle_text_token_stats() -> str:
    return f"""
select
    doc_id, lang, source,
    cast(length(text) as bigint) as n_chars,
    cast(len(string_split_regex(trim(text), '{WS_RE}')) as bigint) as n_tokens_ws,
    cast(len(regexp_extract_all(text, '{WORD_RE}')) as bigint) as n_words,
    cast(len(regexp_extract_all(text, '{PUNCT_RE}')) as bigint) as n_punct,
    cast(len(regexp_extract_all(text, '{BPE_ISH_RE}')) as bigint) as n_tokens_bpe,
    round(cast(coalesce(list_aggregate(list_transform(regexp_extract_all(text, '{WORD_RE}'), w -> length(w)), 'sum'), 0) as double)
          / (case when len(regexp_extract_all(text, '{WORD_RE}')) <> 0
                  then len(regexp_extract_all(text, '{WORD_RE}')) end), 4) as avg_word_len
from documents
"""


# ---------------------------------------------------------- quality score

def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#23: length/alpha/punct/stopword features + composite quality score."""
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), NON_ALPHA_RE, ""))
    words = F.size(F.regexp_extract_all(F.col("text"), F.lit(WORD_RE), F.lit(0)))
    punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_RE), F.lit(0)))
    stop = F.regexp_count(F.lower(F.col("text")), F.lit(EN_STOPWORDS_RE))
    alpha_ratio = alpha.cast("double") / F.when(n_chars != 0, n_chars)
    punct_ratio = punct.cast("double") / F.when(n_chars != 0, n_chars)
    stop_ratio = stop.cast("double") / F.when(words != 0, words)
    score = F.round(
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(F.lit(1.0), words.cast("double") / 100),
        4,
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        n_chars.cast("long").alias("n_chars"),
        alpha.cast("long").alias("alpha_chars"),
        words.cast("long").alias("n_words"),
        punct.cast("long").alias("n_punct"),
        stop.cast("long").alias("stopword_hits"),
        _r4(alpha_ratio).alias("alpha_ratio"),
        _r4(punct_ratio).alias("punct_ratio"),
        _r4(stop_ratio).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def oracle_text_quality_score() -> str:
    return f"""
select
    doc_id, lang,
    cast(length(text) as bigint) as n_chars,
    cast(length(regexp_replace(text, '{NON_ALPHA_RE}', '', 'g')) as bigint) as alpha_chars,
    cast(n_words as bigint) as n_words,
    cast(len(regexp_extract_all(text, '{PUNCT_RE}')) as bigint) as n_punct,
    cast(stop_hits as bigint) as stopword_hits,
    round(alpha_ratio, 4) as alpha_ratio,
    round(punct_ratio, 4) as punct_ratio,
    round(cast(stop_hits as double) / (case when n_words <> 0 then n_words end), 4) as stopword_ratio,
    round(cast(0.4 as double) * alpha_ratio + cast(0.3 as double) * (cast(1.0 as double) - punct_ratio)
          + cast(0.3 as double) * least(cast(1.0 as double), cast(n_words as double) / 100), 4) as quality_score
from (
    select doc_id, lang, text,
        len(regexp_extract_all(text, '{WORD_RE}')) as n_words,
        len(regexp_extract_all(lower(text), '{EN_STOPWORDS_RE}')) as stop_hits,
        cast(length(regexp_replace(text, '{NON_ALPHA_RE}', '', 'g')) as double)
            / (case when length(text) <> 0 then length(text) end) as alpha_ratio,
        cast(len(regexp_extract_all(text, '{PUNCT_RE}')) as double)
            / (case when length(text) <> 0 then length(text) end) as punct_ratio
    from documents
)
"""


# ----------------------------------------------------------- language id

def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#24: stopword-hit heuristic language ID (de/en/es/fr), deterministic
    alphabetical tie-break. (The synthetic corpus shares one vocabulary, so
    accuracy vs the label column is not meaningful — operator semantics are.)
    """
    low = F.lower(F.col("text"))
    hits = {k: F.regexp_count(low, F.lit(v)) for k, v in LANG_STOPWORDS.items()}
    de, en, es, fr = hits["de"], hits["en"], hits["es"], hits["fr"]
    detected = (
        F.when((de >= en) & (de >= es) & (de >= fr), "de")
        .when((en >= es) & (en >= fr), "en")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        de.cast("long").alias("de_hits"),
        en.cast("long").alias("en_hits"),
        es.cast("long").alias("es_hits"),
        fr.cast("long").alias("fr_hits"),
        detected.alias("detected_lang"),
        (detected == F.col("lang")).alias("is_match"),
    )


def oracle_text_language_id() -> str:
    pats = {k: v for k, v in LANG_STOPWORDS.items()}
    return f"""
select
    doc_id, lang,
    cast(de_hits as bigint) as de_hits,
    cast(en_hits as bigint) as en_hits,
    cast(es_hits as bigint) as es_hits,
    cast(fr_hits as bigint) as fr_hits,
    detected_lang,
    detected_lang = lang as is_match
from (
    select *,
        case when de_hits >= en_hits and de_hits >= es_hits and de_hits >= fr_hits then 'de'
             when en_hits >= es_hits and en_hits >= fr_hits then 'en'
             when es_hits >= fr_hits then 'es'
             else 'fr' end as detected_lang
    from (
        select doc_id, lang,
            len(regexp_extract_all(lower(text), '{pats["de"]}')) as de_hits,
            len(regexp_extract_all(lower(text), '{pats["en"]}')) as en_hits,
            len(regexp_extract_all(lower(text), '{pats["es"]}')) as es_hits,
            len(regexp_extract_all(lower(text), '{pats["fr"]}')) as fr_hits
        from documents
    )
)
"""


# Round 11 (VERDICT r10 #6): character-n-gram profile language ID.
# Each language's profile is a literal list of characteristic character
# n-grams (space-padded function words + signature letter clusters, all
# ASCII so both engines count identically); a document's per-language
# score is the exact INTEGER total of profile-gram occurrences, counted
# with the replace-shrink formula (len(t) - len(replace(t, g, ''))) /
# len(g) — no regex, so there is no dialect or overlap-semantics gap
# between Spark and DuckDB. Detection takes the best-scoring language
# (alphabetical tie-break) with an unknown class: a doc is 'unknown'
# unless the best score reaches LANG_NGRAM_MIN_SCORE and beats the
# runner-up by LANG_NGRAM_MIN_MARGIN. The 4-language stopword heuristic
# (text_language_id above) rides along as a cross-check column.
LANG_NGRAM_PROFILES = {
    "de": [" der ", " und ", " die ", " ein", "icht", "sch"],
    "en": [" the ", " and ", " of ", " to ", "ing ", "tion"],
    "es": [" el ", " que ", " los ", " una ", "cion", " por "],
    "fr": [" le ", " les ", " des ", " une ", " est ", " aux "],
    "it": [" il ", " che ", " di ", " della ", "zione", " per "],
    "pt": [" o ", " os ", " uma ", " dos ", " nao ", "cao "],
}
LANG_NGRAM_MIN_SCORE = 2
LANG_NGRAM_MIN_MARGIN = 1


def text_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#24b: character-n-gram profile language ID over 6 languages with
    an ``unknown`` class and a confidence margin.

    One projection over the corpus — every score is a handful of
    replace/length expressions inside whole-stage codegen, no shuffle,
    no UDF. (The synthetic corpus shares one vocabulary, so accuracy vs
    the label column is not meaningful — operator semantics are; the
    planted-language unit test covers real-language accuracy.)
    """
    langs = sorted(LANG_NGRAM_PROFILES)
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = {}
    for lang in langs:
        s = None
        for g in LANG_NGRAM_PROFILES[lang]:
            occ = (
                (F.length(padded) - F.length(F.replace(padded, F.lit(g))))
                / F.lit(len(g))
            ).cast("long")
            s = occ if s is None else s + occ
        scores[lang] = s
    sorted_desc = F.reverse(
        F.array_sort(F.array(*[scores[lang] for lang in langs]))
    )
    best = sorted_desc[0]
    margin = sorted_desc[0] - sorted_desc[1]
    detected_raw = F.when(scores[langs[0]] == best, langs[0])
    for lang in langs[1:]:
        detected_raw = detected_raw.when(scores[lang] == best, lang)
    detected = F.when(
        (best >= LANG_NGRAM_MIN_SCORE) & (margin >= LANG_NGRAM_MIN_MARGIN),
        detected_raw,
    ).otherwise("unknown")
    low = F.lower(F.col("text"))
    hits = {k: F.regexp_count(low, F.lit(v)) for k, v in LANG_STOPWORDS.items()}
    de, en, es, fr = hits["de"], hits["en"], hits["es"], hits["fr"]
    stopword_lang = (
        F.when((de >= en) & (de >= es) & (de >= fr), "de")
        .when((en >= es) & (en >= fr), "en")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"{lang}_score") for lang in langs],
        best.alias("best_score"),
        margin.alias("margin"),
        detected.alias("detected_lang"),
        stopword_lang.alias("stopword_lang"),
        (detected == stopword_lang).alias("agrees_stopword"),
    )


def oracle_text_language_id_ngram() -> str:
    langs = sorted(LANG_NGRAM_PROFILES)
    score_exprs = []
    for lang in langs:
        terms = " + ".join(
            f"cast((length(padded) - length(replace(padded, '{g}', '')))"
            f" / {len(g)} as bigint)"
            for g in LANG_NGRAM_PROFILES[lang]
        )
        score_exprs.append(f"({terms}) as {lang}_score")
    arr = ", ".join(f"{lang}_score" for lang in langs)
    detect_chain = " ".join(
        f"when {lang}_score = best_score then '{lang}'" for lang in langs
    )
    pats = LANG_STOPWORDS
    return f"""
with p as (
    select doc_id, lang, ' ' || lower(text) || ' ' as padded,
        len(regexp_extract_all(lower(text), '{pats["de"]}')) as sde,
        len(regexp_extract_all(lower(text), '{pats["en"]}')) as sen,
        len(regexp_extract_all(lower(text), '{pats["es"]}')) as ses,
        len(regexp_extract_all(lower(text), '{pats["fr"]}')) as sfr
    from documents
), s as (
    select doc_id, lang, {", ".join(score_exprs)},
        case when sde >= sen and sde >= ses and sde >= sfr then 'de'
             when sen >= ses and sen >= sfr then 'en'
             when ses >= sfr then 'es'
             else 'fr' end as stopword_lang
    from p
), m as (
    select *,
        list_reverse(list_sort([{arr}]))[1] as best_score,
        list_reverse(list_sort([{arr}]))[1]
            - list_reverse(list_sort([{arr}]))[2] as margin
    from s
)
select doc_id, lang, {arr},
    cast(best_score as bigint) as best_score,
    cast(margin as bigint) as margin,
    case when best_score >= {LANG_NGRAM_MIN_SCORE}
              and margin >= {LANG_NGRAM_MIN_MARGIN}
         then (case {detect_chain} end)
         else 'unknown' end as detected_lang,
    stopword_lang,
    (case when best_score >= {LANG_NGRAM_MIN_SCORE}
               and margin >= {LANG_NGRAM_MIN_MARGIN}
          then (case {detect_chain} end)
          else 'unknown' end) = stopword_lang as agrees_stopword
from m
"""


# ---------------------------------------------------------- fingerprints

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#25: md5 raw / normalized / 64-char-prefix fingerprints."""
    norm = _norm_text(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.col("text")).alias("fp_md5"),
        F.md5(norm).alias("fp_norm"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix64"),
    )


_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def oracle_doc_fingerprint() -> str:
    return f"""
select
    doc_id,
    cast(length(text) as bigint) as n_chars,
    md5(text) as fp_md5,
    md5({_NORM_SQL}) as fp_norm,
    md5(substr({_NORM_SQL}, 1, 64)) as fp_prefix64
from documents
"""


# ------------------------------------------------------------ exact dedup

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#15: hash-groupBy exact dedup on normalized text; one row per
    fingerprint group with the canonical (min doc_id) survivor.
    One shuffle on the fingerprint; map-side partial aggregation."""
    norm = _norm_text(F.col("text"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.md5(norm).alias("fingerprint"), F.length("text").alias("len"))
        .groupBy("fingerprint")
        .agg(
            F.count("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sum("len").cast("long").alias("total_chars"),
        )
    )


def oracle_dedup_exact() -> str:
    return f"""
select
    md5({_NORM_SQL}) as fingerprint,
    count(doc_id) as n_docs,
    min(doc_id) as keep_doc_id,
    cast(sum(length(text)) as bigint) as total_chars
from documents
group by md5({_NORM_SQL})
"""


# ---------------------------------------------------- n-gram jaccard dedup

def _doc_gram_arrays_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → DISTINCT token-3-gram array (un-checkpointed lineage).

    Gram build is ``zip_with`` over three shifted slices of the token
    array. The obvious alternative — ``transform(sequence(...),
    i -> element_at(tokens, i+k))`` — re-evaluates the full ``split``
    PER ELEMENT ×3: higher-order-function lambda bodies are interpreted
    with no common-subexpression elimination, so any outer expression a
    lambda references is recomputed per element (the text-family pitfall
    SURVEY §2 #16 notes for nested HOFs). With zip_with the lambdas
    touch only their lambda variables and split evaluates at row level:
    measured 4.65 s → 0.52 s for the sf0.1 gram build, identical output.
    """
    tokens = F.split(F.lower(F.trim(F.col("text"))), WS_RE)
    n = F.size(tokens)
    t1 = F.slice(tokens, F.lit(1), n - 2)
    t2 = F.slice(tokens, F.lit(2), n - 2)
    t3 = F.slice(tokens, F.lit(3), n - 2)
    tri = F.zip_with(
        F.zip_with(t1, t2, lambda a, b: F.concat_ws(" ", a, b)),
        t3,
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    grams = F.when(n >= NGRAM_N, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )
    # The gram build (split + transform + array_distinct) is the most
    # CPU-intensive narrow transform in the text family, and a small
    # parquet input arrives as few (even ONE) scan partitions — measured
    # 13 s single-task vs <1 s spread over the cluster at sf0.1. The
    # explicit round-robin repartition decouples compute parallelism from
    # input file layout (same reason at 100 TB: maxPartitionBytes sizes
    # scan splits for IO, not for CPU-bound explodes).
    n_parts = spark.sparkContext.defaultParallelism
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(n_parts)
        .select("doc_id", grams.alias("gs"))
    )


def _doc_gram_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → gram array, lazily checkpointed at DOC grain.

    Round 6: the round-5 shape checkpointed the EXPLODED (doc, gram)
    table (~2000× more rows than docs) and then paid a collect_list
    shuffle to rebuild per-doc arrays for the pair-intersection joins.
    The arrays exist BEFORE the explode — checkpointing doc-grain rows
    materializes ~docs rows instead of ~grams rows, every exploded
    consumer re-derives grams as a narrow fan-out of stored arrays, and
    the collect_list shuffle disappears. Measured 7.4 s → 4.7 s for
    dedup_ngram_jaccard at sf0.1 (clusters/keep_best inherit the win).
    """
    return _doc_gram_arrays_raw(spark, sf_dir).localCheckpoint(eager=False)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#18: exact token-3-gram Jaccard over candidate pairs.

    Blocking: only grams with document-frequency <= NGRAM_MAX_DF seed
    candidate pairs (standard rare-feature blocking — hot shingles would
    otherwise quadratically explode the self-join at scale); the Jaccard
    itself is computed over the FULL gram sets of each candidate pair.

    The gram data feeds SIX subtrees (sizes, rare, both sides of the
    blocked self-join, both sides of the intersection join) — the lazy
    DOC-GRAIN checkpoint (_doc_gram_arrays) computes the tokenize once
    and lets all six read the materialized arrays; exploded views are
    narrow fan-outs of stored arrays (r5: 29.5 s → ~8 s via an exploded
    checkpoint; r6: → ~4.7 s by checkpointing at doc grain and deleting
    the collect_list shuffle). Also the dominant cost inside
    dedup_clusters / dedup_keep_best, which build on these pairs. At
    cluster scale this is executor-local storage, no driver traffic.
    """
    doc_grams = _doc_gram_arrays(spark, sf_dir)
    grams = doc_grams.select(
        "doc_id", F.size("gs").alias("n_g"), F.explode("gs").alias("gram")
    )

    # Prefix filtering (Bayardo et al., WWW'07 "Scaling Up All Pairs
    # Similarity Search"; also PPJoin): under ANY global gram order, a
    # pair with Jaccard ≥ t must share its smallest common gram within
    # both docs' prefixes of length n − ⌈t·n⌉ + 1 (if all ≥⌈t·n⌉ common
    # grams sat outside a prefix, the ⌈t·n⌉−1 suffix slots couldn't hold
    # them). Ordering by (df asc, gram) makes that smallest common gram
    # the RAREST one, so composing with the df ≤ NGRAM_MAX_DF rare-gram
    # block is still output-identical: the rarest shared gram of any
    # qualifying pair has df ≤ any shared rare gram's df. The UNCHANGED
    # oracle (plain rare-block candidates) verifies losslessness by hash.
    # ⌈0.8n⌉ in exact integers: (4n+4) div 5 — float 0.8*n would be
    # engine-fragile at representation boundaries. Candidate pairs at
    # sf0.1: 1.13M → 154k; the dominating stage shrinks ~7× and scales
    # as prefix² instead of docset² per bucket at 100 TB.
    from pyspark.sql import Window

    dfc = grams.groupBy("gram").agg(F.count("*").alias("df"))
    prefix_len = F.col("n_g") - F.expr("(4 * n_g + 4) div 5") + 1
    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    blocked = (
        grams.join(dfc, "gram")
        .withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("rn") <= prefix_len)
            & (F.col("df") >= 2)
            & (F.col("df") <= NGRAM_MAX_DF)
        )
        .select("doc_id", "gram")
    )
    candidates = (
        blocked.alias("a")
        .join(blocked.alias("b"), "gram")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Full-set intersection via per-doc gram ARRAYS: grams are distinct
    # per doc by construction, so size(array_intersect) == the shared
    # gram count and size(grams) == the set size. Two doc_id-keyed joins
    # of the (small) pair table against the per-doc array table replace
    # the exploded candidates⋈grams⋈grams 3-way join + two size joins —
    # the exchange carries one row per doc and one per pair, never one
    # per (pair, shared gram) (r5: 10.5 s → ~1 s for this stage). The
    # arrays come STRAIGHT from the doc-grain checkpoint — no
    # collect_list rebuild (r6); shuffle volume scales with docs +
    # candidate pairs at 100 TB.
    n_common = F.size(F.array_intersect("gs_a", "gs_b"))
    jac = (
        candidates.join(
            doc_grams.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a")),
            "doc_a",
        )
        .join(
            doc_grams.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size("gs_a").alias("n_grams_a"),
            F.size("gs_b").alias("n_grams_b"),
            n_common.alias("n_common"),
            _r4(
                n_common.cast("double")
                / (F.size("gs_a") + F.size("gs_b") - n_common)
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)


def oracle_dedup_ngram_jaccard() -> str:
    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
sizes as (select doc_id, count(*) as n_grams from grams group by doc_id),
rare as (
    select gram from grams group by gram
    having count(*) >= 2 and count(*) <= {NGRAM_MAX_DF}
),
blocked as (select g.doc_id, g.gram from grams g join rare r on g.gram = r.gram),
candidates as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from blocked a join blocked b on a.gram = b.gram and a.doc_id < b.doc_id
),
inter as (
    select c.doc_a, c.doc_b, count(*) as n_common
    from candidates c
    join grams ga on ga.doc_id = c.doc_a
    join grams gb on gb.doc_id = c.doc_b and gb.gram = ga.gram
    group by c.doc_a, c.doc_b
)
select
    i.doc_a, i.doc_b,
    sa.n_grams as n_grams_a,
    sb.n_grams as n_grams_b,
    i.n_common,
    round(cast(i.n_common as double) / (sa.n_grams + sb.n_grams - i.n_common), 4) as jaccard
from inter i
join sizes sa on sa.doc_id = i.doc_a
join sizes sb on sb.doc_id = i.doc_b
where round(cast(i.n_common as double) / (sa.n_grams + sb.n_grams - i.n_common), 4) >= {NGRAM_JACCARD_THRESHOLD}
"""


# ------------------------------------------------------ containment

CONTAINMENT_THRESHOLD = 0.7  # on max(|A∩B|/|A|, |A∩B|/|B|)


def doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35d: asymmetric gram-containment pairs — sub/superset detection.

    Jaccard dedup misses the quote-expansion case: a short document
    fully embedded in a much longer one has |A∩B|/|A∪B| ≈ |A|/|B| → 0,
    while containment |A∩B|/|A| = 1. Broder's containment coefficient
    is the standard screen for doc-in-doc contamination (and for
    train/eval overlap where the eval item is the contained side).

    Same token-3-gram sets and rare-gram blocking as
    dedup_ngram_jaccard (df ∈ [2, NGRAM_MAX_DF] grams seed candidates).
    The JACCARD prefix filter (both sides pruned by their own n−⌈t·n⌉+1
    prefix) is unsound here — a contained doc's partner can be far
    larger than any Jaccard-qualifying one — but a ONE-SIDED variant is
    lossless: a qualifying pair needs |A∩B| ≥ ⌈t·min(|A|,|B|)⌉, so by
    pigeonhole the MIN-SIZE side must hold a common gram inside its own
    first n−⌈t·n⌉+1 grams under the global (df, gram) order; and since
    the prefix holds the lowest-ordered grams, the RAREST shared gram
    is in it — which, for any pair the rare-gram block would admit at
    all, has df ≤ NGRAM_MAX_DF. Hence: join prefix(min-size side, rare
    grams only) against full rare gram sets of LARGER docs. Cuts
    candidates 1.13M → ~0.5M at sf0.1 (measured); the UNCHANGED oracle
    (plain rare-block candidates) hash-proves losslessness. ⌈0.7n⌉ in
    exact integers: (7n+9) div 10.

    One row per unordered candidate pair with both directional ratios;
    pairs pass on the max. Plan shape: the doc-grain gram checkpoint
    feeds the prefix window, the blocked semi-self-join (pairs ∝ df²
    per rare gram, bounded by NGRAM_MAX_DF) and the array-intersect
    scoring joins, whose exchange carries one row per doc and per pair.
    """
    doc_grams = _doc_gram_arrays(spark, sf_dir)
    grams = doc_grams.select(
        "doc_id", F.size("gs").alias("n_g"), F.explode("gs").alias("gram")
    )
    dfc = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "gram")
    prefix_len = F.col("n_g") - F.expr("(7 * n_g + 9) div 10") + 1
    ordered = grams.join(dfc, "gram").withColumn("rn", F.row_number().over(w))
    rare_rows = ordered.where(
        (F.col("df") >= 2) & (F.col("df") <= NGRAM_MAX_DF)
    ).localCheckpoint(eager=False)
    small = rare_rows.where(F.col("rn") <= prefix_len).select(
        F.col("doc_id").alias("doc_s"), F.col("n_g").alias("n_s"), "gram"
    )
    large = rare_rows.select(
        F.col("doc_id").alias("doc_l"), F.col("n_g").alias("n_l"), "gram"
    )
    candidates = (
        small.join(large, "gram")
        .where(
            (F.col("n_s") < F.col("n_l"))
            | ((F.col("n_s") == F.col("n_l")) & (F.col("doc_s") != F.col("doc_l")))
        )
        .select(
            F.least("doc_s", "doc_l").alias("doc_a"),
            F.greatest("doc_s", "doc_l").alias("doc_b"),
        )
        .distinct()
    )
    n_common = F.size(F.array_intersect("gs_a", "gs_b"))
    cont_a = n_common.cast("double") / F.size("gs_a")
    cont_b = n_common.cast("double") / F.size("gs_b")
    scored = (
        candidates.join(
            doc_grams.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("gs_a")),
            "doc_a",
        )
        .join(
            doc_grams.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gs_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size("gs_a").cast("long").alias("n_grams_a"),
            F.size("gs_b").cast("long").alias("n_grams_b"),
            n_common.cast("long").alias("n_common"),
            _r4(cont_a).alias("cont_a_in_b"),
            _r4(cont_b).alias("cont_b_in_a"),
        )
    )
    return scored.where(
        F.greatest("cont_a_in_b", "cont_b_in_a") >= CONTAINMENT_THRESHOLD
    )


def oracle_doc_containment() -> str:
    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
ga as (
    select doc_id, list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) as gs
    from tok
),
grams as (select doc_id, unnest(gs) as gram from ga),
rare as (
    select gram from grams group by gram
    having count(*) >= 2 and count(*) <= {NGRAM_MAX_DF}
),
blocked as (select g.doc_id, g.gram from grams g join rare r on g.gram = r.gram),
candidates as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from blocked a join blocked b on a.gram = b.gram and a.doc_id < b.doc_id
),
scored as (
    select c.doc_a, c.doc_b,
        cast(len(xa.gs) as bigint) as n_grams_a,
        cast(len(xb.gs) as bigint) as n_grams_b,
        cast(len(list_intersect(xa.gs, xb.gs)) as bigint) as n_common,
        round(cast(len(list_intersect(xa.gs, xb.gs)) as double)
              / len(xa.gs), 4) as cont_a_in_b,
        round(cast(len(list_intersect(xa.gs, xb.gs)) as double)
              / len(xb.gs), 4) as cont_b_in_a
    from candidates c
    join ga xa on xa.doc_id = c.doc_a
    join ga xb on xb.doc_id = c.doc_b
)
select * from scored
where greatest(cont_a_in_b, cont_b_in_a) >= {CONTAINMENT_THRESHOLD}
"""


# ------------------------------------------------------- winnowing (MOSS)

WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # window size (fingerprints selected per window minimum)


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#25b: winnowing document fingerprints (Schleimer et al., MOSS).

    Char 8-gram hashes; each length-4 sliding window contributes its
    minimum hash — guaranteeing any match of length >= k+w-1 shares a
    fingerprint. The "hash" is the md5 hex (lexicographic order is the
    tie-break both engines share), so the oracle is value-exact.
    Output: one row per (doc_id, fingerprint) — the doc's sketch.
    """
    # Materialize each intermediate array as a real column: lambda-bound
    # expressions are NOT common-subexpression-eliminated, so inlining
    # gram_hashes into the window transform would recompute the whole md5
    # array per window element (O(n²) md5 calls — measured minutes vs
    # seconds). Column references evaluate once per row.
    # conditional single-split fan-out (VERDICT r14 #3)
    docs = _docs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    d = docs.withColumn("__norm", _norm_text(F.col("text")))
    # Guard short docs: F.sequence counts DOWN when stop < start (default
    # step -1), which would feed slice() a start of 0/-1 and throw. Docs
    # shorter than one gram/window legitimately contribute no fingerprints
    # (the oracle's range() is empty there too).
    d = d.withColumn(
        "__gh",
        F.when(
            F.length("__norm") >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), F.length("__norm") - (WINNOW_K - 1)),
                lambda i: F.md5(F.substring(F.col("__norm"), F.lit(0) + i, WINNOW_K)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    fps = F.array_distinct(
        F.when(
            F.size("__gh") >= WINNOW_W,
            F.transform(
                F.sequence(F.lit(0), F.size("__gh") - WINNOW_W),
                lambda j: F.array_min(F.slice(F.col("__gh"), j + 1, WINNOW_W)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    return d.select("doc_id", F.explode(fps).alias("fingerprint"))


def oracle_doc_winnowing() -> str:
    return f"""
with g as (
    select doc_id,
        list_transform(
            range(1, greatest(length({_NORM_SQL}) - {WINNOW_K - 2}, 1)),
            i -> md5(substr({_NORM_SQL}, i, {WINNOW_K}))) as gh
    from documents
)
select doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(gh) - {WINNOW_W - 2}, 1)),
                   j -> list_aggregate(gh[j:j + {WINNOW_W - 1}], 'min')))) as fingerprint
from g
"""


# ------------------------------------------------- curation pipeline

CURATION_MIN_QUALITY = 0.5
CURATION_MIN_CHARS = 100


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#23b: end-to-end training-data curation — the composed pipeline a
    100 TB pretraining corpus runs: exact-dedup survivors ∩ length floor
    ∩ quality floor, with the reasons each document was kept/dropped.
    """
    quality = text_quality_score(spark, sf_dir).select("doc_id", "n_chars", "quality_score")
    norm = _norm_text(F.col("text"))
    fp = _docs(spark, sf_dir).select("doc_id", F.md5(norm).alias("fingerprint"))
    keepers = (
        fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_doc_id"))
    )
    flagged = (
        quality.join(fp, "doc_id")
        .join(keepers, "fingerprint")
        .select(
            "doc_id",
            (F.col("doc_id") == F.col("keep_doc_id")).alias("is_canonical"),
            (F.col("n_chars") >= CURATION_MIN_CHARS).alias("long_enough"),
            (F.col("quality_score") >= CURATION_MIN_QUALITY).alias("good_quality"),
            "quality_score",
        )
    )
    return flagged.select(
        "doc_id",
        "is_canonical",
        "long_enough",
        "good_quality",
        "quality_score",
        (F.col("is_canonical") & F.col("long_enough") & F.col("good_quality")).alias("keep"),
    )


def oracle_corpus_curation() -> str:
    quality_cte = oracle_text_quality_score().strip()
    return f"""
with q as ({quality_cte}),
fp as (select doc_id, md5({_NORM_SQL}) as fingerprint from documents),
keepers as (select fingerprint, min(doc_id) as keep_doc_id from fp group by fingerprint)
select
    q.doc_id,
    q.doc_id = k.keep_doc_id as is_canonical,
    q.n_chars >= {CURATION_MIN_CHARS} as long_enough,
    q.quality_score >= {CURATION_MIN_QUALITY} as good_quality,
    q.quality_score,
    (q.doc_id = k.keep_doc_id and q.n_chars >= {CURATION_MIN_CHARS}
     and q.quality_score >= {CURATION_MIN_QUALITY}) as keep
from q
join fp on fp.doc_id = q.doc_id
join keepers k on k.fingerprint = fp.fingerprint
"""


# ------------------------------------------------------ novelty

def doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct 3-gram
    shingles that appear in NO other document (corpus df == 1). The
    inverse signal of the dedup family — high novelty marks content
    worth keeping in a training mix, near-zero novelty marks boilerplate
    — and a direct reuse of the shared gram machinery
    (_doc_gram_arrays; docs with <3 tokens have no grams and drop out,
    matching the oracle's unnest-of-empty).

    Scale shape: identical to tfidf — one (doc, gram) explode with
    partial-agg to gram grain for df, one gram-keyed join back, one
    doc-grain rollup. df==1 grams are BY DEFINITION unskewed; the hot
    (boilerplate) grams that do skew the join are exactly the ones AQE
    splits. The ratio is two exact bigints, one double division.
    """
    grams = _doc_gram_arrays(spark, sf_dir)
    exploded = grams.select("doc_id", F.explode("gs").alias("gram"))
    df_counts = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        exploded.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            (F.col("n_unique").cast("double") / F.col("n_grams").cast("double")).alias(
                "novelty"
            ),
        )
    )


def oracle_doc_novelty_score() -> str:
    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
dfs as (select gram, count(*) as df from grams group by 1)
select g.doc_id,
    count(*) as n_grams,
    cast(sum(case when d.df = 1 then 1 else 0 end) as bigint) as n_unique,
    cast(sum(case when d.df = 1 then 1 else 0 end) as double)
        / cast(count(*) as double) as novelty
from grams g join dfs d on g.gram = d.gram
group by 1
"""


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (lang, source): BPE-ish tokens emitted
    per whitespace word — the standard metric for how badly a tokenizer
    fragments a corpus slice (fertility ≫ 1 on a language means that
    slice pays more sequence length per content; the input to
    vocab-sizing and mixing decisions alongside corpus_mix_weights).

    Pure rollup over the same scan-bound token counting as
    text_token_stats (one partial-aggregated shuffle at the bounded
    (lang, source) grain); fertility and punct-share are exact bigint
    sums with one double division each.
    """
    return (
        text_token_stats(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_ws").alias("ws_sum"),
            F.sum("n_tokens_bpe").alias("bpe_sum"),
            F.sum("n_punct").alias("punct_sum"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            F.col("ws_sum").cast("bigint").alias("n_tokens_ws"),
            F.col("bpe_sum").cast("bigint").alias("n_tokens_bpe"),
            (F.col("bpe_sum").cast("double") / F.col("ws_sum").cast("double")).alias(
                "fertility"
            ),
            (F.col("punct_sum").cast("double") / F.col("bpe_sum").cast("double")).alias(
                "punct_share"
            ),
        )
    )


def oracle_tokenizer_fertility() -> str:
    return f"""
with stats as ({oracle_text_token_stats()})
select lang, source, count(*) as n_docs,
    cast(sum(n_tokens_ws) as bigint) as n_tokens_ws,
    cast(sum(n_tokens_bpe) as bigint) as n_tokens_bpe,
    cast(sum(n_tokens_bpe) as double) / cast(sum(n_tokens_ws) as double)
        as fertility,
    cast(sum(n_punct) as double) / cast(sum(n_tokens_bpe) as double)
        as punct_share
from stats group by 1, 2
"""


# ------------------------------------- paragraph dedup with doc rewrite

PARA_W = 16  # words per pseudo-paragraph (corpus has no newline breaks)


def paragraph_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain exact dedup that REWRITES documents — the
    RefinedWeb/CCNet curation step that removes repeated boilerplate
    paragraphs corpus-wide and keeps each document's residue, instead
    of dropping whole documents (reference has no analogue; this is
    the LLM-pipeline depth surface).

    Paragraph = consecutive ``PARA_W``-word window (this corpus has no
    newline paragraph boundaries, so the split is positional; on real
    data the splitter would be ``split(text, '\\n\\n')`` with the same
    downstream plan). A paragraph survives only at its globally FIRST
    occurrence, ordered by (doc_id, chunk_idx); every later copy —
    including intra-document repeats — is dropped. Each document is
    then reassembled from its surviving paragraphs in original order.

    Scale shape (the part worth copying at 100 TB): first-occurrence
    selection is ``min(struct(doc_id, chunk_idx))`` GROUPED BY the
    paragraph text — a hash aggregate with map-side partial combine,
    so a boilerplate paragraph occurring in 30% of all documents
    costs one partial per map task, not one reducer-sided window
    partition. The keeper set IS the aggregate output (one row per
    distinct paragraph), so no join back against the exploded corpus
    is needed — the usual ``row_number() over (partition by chunk)``
    formulation would put every copy of a hot paragraph in a single
    task. Reassembly groups by doc_id (bounded grain: a document's
    own paragraphs).
    """
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split(F.trim(F.col("text")), WS_RE).alias("w"))
        .select(
            "doc_id",
            "w",
            F.ceil(F.size("w") / F.lit(float(PARA_W))).cast("int").alias("n_chunks"),
        )
        .localCheckpoint(eager=False)
    )
    chunks = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, n_chunks - 1), "
                f"i -> struct(i as chunk_idx, "
                f"array_join(slice(w, i * {PARA_W} + 1, {PARA_W}), ' ') as chunk))"
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.chunk_idx").alias("chunk_idx"), F.col("c.chunk").alias("chunk"))
    # global first occurrence per distinct paragraph — skew-proof hash agg
    keep = (
        chunks.groupBy("chunk")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("f"))
        .select(
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.chunk_idx").alias("chunk_idx"),
            "chunk",
        )
    )
    kept = keep.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks_kept"),
        F.sum(F.size(F.split(F.col("chunk"), " "))).alias("n_words_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", "n_chunks")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.coalesce("n_chunks_kept", F.lit(0)).cast("bigint").alias("n_chunks_kept"),
            F.coalesce("n_words_kept", F.lit(0)).cast("bigint").alias("n_words_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def oracle_paragraph_dedup_rewrite() -> str:
    return f"""
with d as (
    select doc_id, string_split_regex(trim(text), '{WS_RE}') as w
    from documents
),
base as (
    select doc_id, w,
        cast(ceil(len(w) / {PARA_W}.0) as int) as n_chunks
    from d
),
chunks as (
    select doc_id, i as chunk_idx,
        array_to_string(w[i * {PARA_W} + 1 : i * {PARA_W} + {PARA_W}], ' ') as chunk
    from base, unnest(range(0, n_chunks)) as t(i)
),
keep as (
    select doc_id, chunk_idx, chunk
    from (
        select doc_id, chunk_idx, chunk,
            row_number() over (
                partition by chunk order by doc_id, chunk_idx
            ) as rn
        from chunks
    ) where rn = 1
),
kept as (
    select doc_id,
        count(*) as n_chunks_kept,
        sum(len(string_split(chunk, ' '))) as n_words_kept,
        string_agg(chunk, ' ' order by chunk_idx) as clean_text
    from keep group by 1
)
select b.doc_id,
    cast(b.n_chunks as bigint) as n_chunks,
    cast(coalesce(k.n_chunks_kept, 0) as bigint) as n_chunks_kept,
    cast(coalesce(k.n_words_kept, 0) as bigint) as n_words_kept,
    coalesce(k.clean_text, '') as clean_text
from base b left join kept k using (doc_id)
"""


# ------------------------------------------------- boilerplate n-grams

BOILER_N = 5  # n-gram length
BOILER_K = 20  # report the top-K grams by document frequency


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BOILER_K`` word ``BOILER_N``-grams by DOCUMENT frequency —
    the boilerplate-detection diagnostic a curation run reads before
    writing its removal rules (navigation chrome, license headers, and
    template spam all surface here; the unigram sibling is
    ``vocab_top_words``).

    Scale shape: grams explode corpus-linearly; df is a two-phase
    distinct aggregate (Spark plans count_distinct(doc_id) grouped by
    ngram as a (ngram, doc_id) partial-dedup stage before the final
    count, so a gram present in every document never funnels raw rows
    into one task); the final top-K is TakeOrderedAndProject with a
    total ordering (df desc, occurrences desc, gram asc) — no global
    sort materializes, ties break deterministically.
    """
    grams = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split(F.trim(F.col("text")), WS_RE).alias("w"))
        .where(F.size("w") >= BOILER_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(w) - {BOILER_N}), "
                    f"i -> array_join(slice(w, i + 1, {BOILER_N}), ' '))"
                )
            ).alias("ngram"),
        )
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            "ngram",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        )
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "ngram")
        .limit(BOILER_K)
    )


def oracle_boilerplate_ngrams() -> str:
    return f"""
with d as (
    select doc_id, string_split_regex(trim(text), '{WS_RE}') as w
    from documents
),
g as (
    select doc_id, array_to_string(w[i + 1 : i + {BOILER_N}], ' ') as ngram
    from d, unnest(range(0, len(w) - {BOILER_N} + 1)) as t(i)
    where len(w) >= {BOILER_N}
)
select ngram,
    cast(count(distinct doc_id) as bigint) as n_docs,
    cast(count(*) as bigint) as n_occurrences
from g group by 1
order by n_docs desc, n_occurrences desc, ngram
limit {BOILER_K}
"""


# ------------------------------------------- per-source char diversity


def source_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-bigram Simpson concentration — the
    corpus-slice diversity profile (a boilerplate-heavy or
    single-template source concentrates its bigram mass; a diverse
    source spreads it): simpson = Σ nᵢ(nᵢ−1) / (N(N−1)), the
    probability two random bigram draws from the source collide.
    Higher = more repetitive. Complements repetition_stats (per-DOC
    repeated n-gram share) at the per-SOURCE grain where mixing
    decisions (corpus_mix_weights) are made.

    Scale shape (100 TB): one corpus-scale explode → (source, bigram)
    counts with map-side combine (bigram cardinality is alphabet²-
    bounded, so the shuffle is tiny regardless of corpus size) → a
    per-source rollup. All counts exact bigints; Σ nᵢ(nᵢ−1) ≤ N·max nᵢ
    stays in int64 through ~1e9 bigrams per source (beyond that, the
    rollup moves to decimal(38,0) — same note as the Gram fold);
    simpson is ONE IEEE division of exact integers.
    """
    docs = load_table(spark, sf_dir, "documents")
    # project lower(text) ONCE before the HOF: lambda bodies are
    # interpreted with no CSE, so referencing lower(text) inside the
    # transform re-lowers the document per element — O(len²) per doc
    # (the boilerplate_ngrams lesson, ops/text.py §34s)
    grams = (
        docs.where(F.char_length("text") >= 2)
        .select("source", F.lower(F.col("text")).alias("lt"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(lt) - 1),"
                    " i -> substring(lt, i, 2))"
                )
            ).alias("bigram"),
        )
    )
    counts = grams.groupBy("source", "bigram").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.count(F.lit(1)).alias("distinct_bigrams"),
            F.sum(F.col("n") * (F.col("n") - 1)).alias("coll"),
        )
        .select(
            "source",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("distinct_bigrams").cast("long").alias("distinct_bigrams"),
            F.when(
                F.col("n_bigrams") > 1,
                F.col("coll").cast("double")
                / (F.col("n_bigrams") * (F.col("n_bigrams") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("simpson"),
        )
        .orderBy("source")
    )


def oracle_source_char_diversity() -> str:
    return """
with g as (
    select source,
        unnest(list_transform(range(1, length(lower(text))),
                              i -> substr(lower(text), i, 2))) as bigram
    from documents where length(text) >= 2
), c as (
    select source, bigram, cast(count(*) as bigint) as n
    from g group by source, bigram
)
select source,
    cast(sum(n) as bigint) as n_bigrams,
    cast(count(*) as bigint) as distinct_bigrams,
    case when sum(n) > 1
         then cast(sum(n * (n - 1)) as double)
              / cast(sum(n) * (sum(n) - 1) as double)
         else 0.0 end as simpson
from c
group by source
order by source
"""

"""Driver-contract queries for the training-data pipeline operators
(dedup / text analysis / similarity search) with DuckDB oracle SQL.

Cross-engine parity rules used throughout:
- all hashes are md5 over UTF-8 bytes (identical in Spark and DuckDB)
- all float folds are strict left-to-right double accumulation seeded with
  0.0 (Spark F.aggregate) vs first-element (DuckDB list_reduce) — equal
  bit-for-bit because 0.0 + x == x
- duplicate/near-duplicate corpora are synthesized deterministically from
  the driver's `documents` / `embeddings` views by both engines
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import ann, dedup, text
from .operators.params import params_for

EMB_DIM = 64
# Corpus-size-adaptive sizing: params_for at the driver fixture scale
# (documents/embeddings ~ 10^3 rows) returns exactly the constants the
# DuckDB oracles pin, so the sizing rules and the correctness gate can
# never silently drift apart (test_pipeline_ops pins both ends).
P = params_for(1000)
PLANES = ann.hyperplanes(EMB_DIM, P.lsh_planes, seed=42)
CENTROIDS = ann.ivf_centroids(EMB_DIM, P.ivf_centroids, seed=7)
NEARDUP_TABLES = ann.hyperplane_tables(
    EMB_DIM, n_planes=P.neardup_planes, n_tables=P.neardup_tables, seed=42
)
# ANN top-k tables: at fixture scale ann_planes/ann_tables == (8, 4) ==
# the near-dup fixture constants, so ANN_TABLES is bit-identical to
# NEARDUP_TABLES here and the SQL oracle pins still hold; at scale the
# two rules diverge (test_params_for_pins_scale_points)
ANN_TABLES = ann.hyperplane_tables(
    EMB_DIM, n_planes=P.ann_planes, n_tables=P.ann_tables, seed=42
)
IVF_NPROBE = P.ivf_nprobe
PQ_CODEBOOKS = ann.pq_codebooks(EMB_DIM, P.pq_m, P.pq_codes, seed=11)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- corpora shared between Spark and SQL ---------------------------------------


def dup_corpus(docs: DataFrame) -> DataFrame:
    """documents plus exact copies of even doc_ids under new ids."""
    a = docs.select((F.col("doc_id") * 2).alias("cid"), "text")
    b = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("cid"), "text"
    )
    return a.unionByName(b)


_SQL_DUP_CORPUS = """
corpus AS (
  SELECT doc_id * 2 AS cid, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1 AS cid, text FROM documents WHERE doc_id % 2 = 0
)
"""


def neardup_corpus(docs: DataFrame) -> DataFrame:
    """documents plus lightly-edited copies (2 appended tokens) of every
    third doc — near-duplicates for the MinHash/LSH path."""
    a = docs.select((F.col("doc_id") * 2).alias("cid"), "text")
    b = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") * 2 + 1).alias("cid"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("text"),
    )
    return a.unionByName(b)


_SQL_NEARDUP_CORPUS = """
corpus AS (
  SELECT doc_id * 2 AS cid, text FROM documents
  UNION ALL
  SELECT doc_id * 2 + 1 AS cid, text || ' zz qq' AS text FROM documents WHERE doc_id % 3 = 0
)
"""

# SQL building blocks
_SQL_SHINGLES = """
tk AS (SELECT cid, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT DISTINCT cid, shingle FROM (
    SELECT cid,
      unnest(list_transform(generate_series(1, array_length(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1])) AS shingle
    FROM tk
  )
)
"""

def _sigs_sql() -> str:
    """The affine MinHash family (dedup.minhash_signatures) in DuckDB SQL:
    fold the first 8 md5 hex chars into the 32-bit base hash x with exact
    BIGINT arithmetic, then min((a_j * x + b_j) % P) per j. Constants come
    from the same minhash_coeffs the Spark operator uses, so the two
    engines agree bit-for-bit. (min over the DISTINCT sh set equals min
    over the multiset, so the shared `sh` CTE stays valid.)"""
    digit = (
        "CAST(strpos('0123456789abcdef', substr(md5(shingle), {p}, 1)) - 1 AS BIGINT)"
    )
    x = "(" + " + ".join(
        digit.format(p=p) + f" * {16 ** (8 - p)}" for p in range(1, 9)
    ) + f") % {dedup.MINHASH_PRIME}"
    mins = ",\n    ".join(
        f"min(({a} * x + {b}) % {dedup.MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(dedup.minhash_coeffs(4))
    )
    return f"""
shx AS (SELECT cid, {x} AS x FROM sh),
sigs AS (
  SELECT cid,
    {mins}
  FROM shx GROUP BY cid
)
"""


_SQL_SIGS = _sigs_sql()


def _shingle_sig_block(src: str, su: str) -> str:
    """Renamed instance of _SQL_SHINGLES + _SQL_SIGS over the CTE `src`
    (name suffix `su`) so the corpus and batch sides of the incremental-
    dedup oracle share one rendering of the shingle/minhash machinery."""
    digit = (
        "CAST(strpos('0123456789abcdef', substr(md5(shingle), {p}, 1)) - 1 AS BIGINT)"
    )
    x = "(" + " + ".join(
        digit.format(p=p) + f" * {16 ** (8 - p)}" for p in range(1, 9)
    ) + f") % {dedup.MINHASH_PRIME}"
    mins = ",\n    ".join(
        f"min(({a} * x + {b}) % {dedup.MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(dedup.minhash_coeffs(4))
    )
    return f"""
tk{su} AS (SELECT cid, string_split(text, ' ') AS toks FROM {src}),
sh{su} AS (
  SELECT DISTINCT cid, shingle FROM (
    SELECT cid,
      unnest(list_transform(generate_series(1, array_length(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1])) AS shingle
    FROM tk{su}
  )
),
shx{su} AS (SELECT cid, {x} AS x FROM sh{su}),
sigs{su} AS (
  SELECT cid,
    {mins}
  FROM shx{su} GROUP BY cid
)
"""


_SQL_INCDEDUP_TABLES = """
corpus_c AS (SELECT doc_id AS cid, text FROM documents WHERE doc_id % 4 <> 1),
corpus_b AS (
  SELECT doc_id + 1000000 AS cid, text FROM documents WHERE doc_id % 8 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS cid, text || ' zz qq' AS text FROM documents WHERE doc_id % 8 = 4
  UNION ALL
  SELECT doc_id + 1000000 AS cid, text FROM documents WHERE doc_id % 4 = 1
)
"""


# --- dedup queries ---------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(dup_corpus(_docs(spark, sf_dir)), id_col="cid").select(
        "cid", "grp_hash", F.col("grp_size").cast("long").alias("grp_size"), "is_canonical"
    )


def q_minhash_signatures(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("cid"), "text")
    return dedup.minhash_signatures(docs, id_col="cid")


def q_lsh_dedup_pairs(spark, sf_dir):
    # one shared shingle stream: minhash and verify each consume it from
    # checkpoint blocks instead of re-scanning + re-tokenizing the corpus
    corpus = neardup_corpus(_docs(spark, sf_dir))
    sh = dedup.shingle_stream(corpus, id_col="cid")
    sigs = dedup.minhash_signatures(corpus, id_col="cid", shingles=sh)
    pairs = dedup.lsh_candidate_pairs(sigs, id_col="cid")
    return dedup.jaccard_verify(corpus, pairs, id_col="cid", threshold=0.5, shingles=sh)


def q_neardup_groups(spark, sf_dir):
    """Near-dup grouping end-to-end: MinHash -> LSH candidates -> exact
    Jaccard verify -> connected components over the is_dup pair graph ->
    (cid, group_id, is_canonical). The canonical pick is lowest-id-wins;
    oracle = recursive transitive-closure CTE over the same pairs."""
    corpus = neardup_corpus(_docs(spark, sf_dir))
    sh = dedup.shingle_stream(corpus, id_col="cid")
    sigs = dedup.minhash_signatures(corpus, id_col="cid", shingles=sh)
    pairs = dedup.lsh_candidate_pairs(sigs, id_col="cid")
    verified = dedup.jaccard_verify(corpus, pairs, id_col="cid", threshold=0.5, shingles=sh)
    dup = verified.where(F.col("is_dup")).select("id_a", "id_b")
    return dedup.connected_components(dup, corpus.select("cid"), id_col="cid")


def q_ngram_jaccard_join(spark, sf_dir):
    """EXACT all-pairs 4-gram Jaccard >= 3/5 over the near-dup corpus via
    df-ordered prefix filtering (AllPairs/PPJoin) — the deterministic
    complement to the MinHash-LSH path: zero false negatives, so the
    INDEPENDENT quadratic oracle (shingle-equality join, no prefix logic)
    is a COMPLETE check, not just a candidate-set replay."""
    corpus = neardup_corpus(_docs(spark, sf_dir))
    return dedup.jaccard_join(
        corpus, id_col="cid", n=4, threshold_num=3, threshold_den=5
    )


def incdedup_corpus(docs: DataFrame) -> DataFrame:
    """The EXISTING (already-admitted) corpus: 3/4 of documents."""
    return docs.where(F.col("doc_id") % 4 != 1).select(
        F.col("doc_id").alias("cid"), "text"
    )


def incdedup_batch(docs: DataFrame) -> DataFrame:
    """The incoming batch: exact copies of corpus docs (doc_id % 8 = 0),
    lightly-edited near-copies (% 8 = 4, 2 appended tokens), and docs the
    corpus has never seen (% 4 = 1) — all three verdict classes present."""
    d = F.col("doc_id")
    ex = docs.where(d % 8 == 0).select((d + 1000000).alias("cid"), "text")
    nr = docs.where(d % 8 == 4).select(
        (d + 1000000).alias("cid"), F.concat(F.col("text"), F.lit(" zz qq")).alias("text")
    )
    nv = docs.where(d % 4 == 1).select((d + 1000000).alias("cid"), "text")
    return ex.unionByName(nr).unionByName(nv)


def q_incremental_dedup(spark, sf_dir):
    """Incremental ingestion dedup (dedup.incremental_dedup): verdict each
    new-batch doc against the existing corpus — exact md5 hit, LSH-candidate
    + exact-Jaccard near hit, or novel — without any corpus x corpus stage."""
    docs = _docs(spark, sf_dir)
    return dedup.incremental_dedup(
        incdedup_corpus(docs), incdedup_batch(docs), id_col="cid", threshold=0.5
    )


def q_simhash(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("cid"), "text")
    return dedup.simhash(docs, id_col="cid")


def q_simhash_near_dup(spark, sf_dir):
    """SimHash hamming-radius dedup over the near-dup corpus: Manku-style
    block banding (pigeonhole-complete for hamming <= 3); block count comes
    from params_for (4 single-block bands at fixture scale)."""
    corpus = neardup_corpus(_docs(spark, sf_dir))
    sigs = dedup.simhash(corpus, id_col="cid")
    return dedup.simhash_near_dup_pairs(
        sigs,
        id_col="cid",
        max_hamming=3,
        n_blocks=P.simhash_blocks,
        sig_bits=P.simhash_bits,
    )


# --- text queries ------------------------------------------------------------------


def pii_corpus(docs: DataFrame) -> DataFrame:
    """documents with deterministically planted PII: every 2nd doc gets an
    email, every 3rd an IPv4, every 5th a phone — counts and redactions
    vary per row, so the oracle discriminates (a corpus where every row
    has exactly one of each would pass with the counts hard-coded)."""
    d = F.col("doc_id")
    email = F.when(
        d % 2 == 0,
        F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 3 == 0,
        F.concat(
            F.lit(" from 10.0."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 5 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 3) % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    return docs.select(
        d.alias("cid"), F.concat(F.col("text"), email, ip, phone).alias("text")
    )


_SQL_PII_CORPUS = """
corpus AS (
  SELECT doc_id AS cid,
    text
    || CASE WHEN doc_id % 2 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ELSE '' END
    AS text
  FROM documents
)
"""


def q_pii_redact(spark, sf_dir):
    """PII counting + redaction over the planted-PII corpus; patterns are
    dialect-portable (explicit classes, no \\d/\\w/\\b) so Java regex and
    RE2 match identically."""
    return text.pii_redact(pii_corpus(_docs(spark, sf_dir)), id_col="cid")


def line_corpus(docs: DataFrame) -> DataFrame:
    """Multi-line documents built deterministically from the single-line
    corpus: line 1 = raw prefix (no terminal punctuation -> dropped),
    line 2 = 'Keep <prefix> ok.' (kept), line 3 = 'No.' (too few words ->
    dropped), line 4 alternates kept/dropped by doc parity."""
    d = F.col("doc_id")
    t = F.col("text")
    nl = F.lit("\n")
    line4 = F.when(d % 2 == 0, F.lit("Is this kept?")).otherwise(
        F.lit("not this one")
    )
    return docs.select(
        d.alias("cid"),
        F.concat(
            F.substring(t, 1, 40),
            nl,
            F.lit("Keep "),
            F.substring(t, 1, 20),
            F.lit(" ok."),
            nl,
            F.lit("No."),
            nl,
            line4,
        ).alias("text"),
    )


_SQL_LINE_CORPUS = """
corpus AS (
  SELECT doc_id AS cid,
    substr(text, 1, 40) || chr(10)
    || 'Keep ' || substr(text, 1, 20) || ' ok.' || chr(10)
    || 'No.' || chr(10)
    || CASE WHEN doc_id % 2 = 0 THEN 'Is this kept?' ELSE 'not this one' END
    AS text
  FROM documents
)
"""


def q_line_filter(spark, sf_dir):
    """C4-style line filtering (terminal punctuation + min 3 words) over
    the synthesized multi-line corpus."""
    return text.line_filter(line_corpus(_docs(spark, sf_dir)), id_col="cid")


def boilerplate_corpus(docs: DataFrame) -> DataFrame:
    """Multi-line docs with corpus-wide boilerplate planted: line 1 is
    identical in EVERY document (dropped by line_dedup), line 2 is unique
    per document (kept — doc_id baked in so word-soup prefixes can't
    collide across docs), line 3 alternates a 25%-of-corpus boilerplate
    (dropped) with a unique tail (kept)."""
    d = F.col("doc_id")
    nl = F.lit("\n")
    return docs.select(
        d.alias("cid"),
        F.concat(
            F.lit("Subscribe to our newsletter."),
            nl,
            F.lit("Doc "),
            d.cast("string"),
            F.lit(" says "),
            F.substring(F.col("text"), 1, 30),
            F.lit(" ok."),
            nl,
            F.when(d % 4 == 0, F.lit("Follow us on social media.")).otherwise(
                F.concat(F.lit("Unique tail "), d.cast("string"), F.lit("."))
            ),
        ).alias("text"),
    )


_SQL_BOILERPLATE_CORPUS = """
corpus AS (
  SELECT doc_id AS cid,
    'Subscribe to our newsletter.' || chr(10)
    || 'Doc ' || CAST(doc_id AS VARCHAR) || ' says ' || substr(text, 1, 30) || ' ok.' || chr(10)
    || CASE WHEN doc_id % 4 = 0 THEN 'Follow us on social media.'
            ELSE 'Unique tail ' || CAST(doc_id AS VARCHAR) || '.' END
    AS text
  FROM documents
)
"""


def q_line_dedup(spark, sf_dir):
    """Corpus-wide line-level boilerplate removal (lines in > 2 distinct
    docs dropped, per-doc order preserved)."""
    return dedup.line_dedup(boilerplate_corpus(_docs(spark, sf_dir)), id_col="cid")


def e2e_corpus(docs: DataFrame) -> DataFrame:
    """ONE corpus exhibiting every pipeline phenomenon, deterministically
    derived from documents so the DuckDB oracle can mirror it closed-form:

    - line 1: corpus-wide boilerplate (survives the C4 line filter, killed
      by corpus-wide line dedup);
    - line 2: per-doc content with the doc id baked in (unique per doc),
      planted PII email on even docs, Spanish connectives on doc_id%7==0
      (lang gate), low-type-token-ratio repetition on doc_id%11==0
      (quality gate), English connectives otherwise;
    - line 3: 'No.' (killed by the line filter: 1 word, but terminal '.');
    - even cids are originals; doc_id%6==0 docs get an EXACT copy under an
      odd cid (exact-dedup prey), doc_id%6==3 docs get a near copy (the
      'No.' line grows a unique 6-word tail, so it passes the line filter
      and survives line dedup) — MinHash/LSH near-dedup prey."""
    d = F.col("doc_id")
    ds = d.cast("string")
    nl = F.lit("\n")
    soup = F.substring(F.col("text"), 1, 40)
    email = F.when(
        d % 2 == 0,
        F.concat(F.lit(" contact user"), ds, F.lit("@example.com")),
    ).otherwise(F.lit(""))
    # Every language-marker stopword is FLANKED by doc-unique tokens
    # (u<d>, v<d>, w<d>) so the lang gate sees the exact stopword tokens
    # while NO bigram shingle repeats corpus-wide — a corpus with shared
    # connective phrases ("says that the ...") makes MinHash band keys
    # collide across most doc pairs and the LSH candidate join degenerates
    # toward all-pairs (measured: 20+ s of Jaccard verify at sf0.1 before
    # this flanking; the oracle mirrored it, but the SHAPE was wrong).
    body = (
        F.when(
            d % 11 == 0,  # low type-token ratio -> quality-gated
            F.concat(F.lit(" the u"), ds, F.lit(" is v"), ds,
                     F.lit(" that aa aa aa aa aa aa aa aa aa")),
        )
        .when(
            d % 7 == 0,  # Spanish markers -> language-gated
            F.concat(F.lit(" el u"), ds, F.lit(" es v"), ds,
                     F.lit(" que w"), ds, F.lit(" "), soup),
        )
        .otherwise(
            F.concat(F.lit(" the u"), ds, F.lit(" is v"), ds,
                     F.lit(" that w"), ds, F.lit(" "), soup)
        )
    )
    assembled = docs.select(
        d.alias("did"),
        F.concat(
            F.lit("Subscribe to our newsletter today."), nl,
            F.lit("Doc "), ds, body, email, F.lit(" ok"), ds, F.lit("."), nl,
            F.lit("No."),
        ).alias("text"),
    )
    a = assembled.select((F.col("did") * 2).alias("cid"), "text")
    b = assembled.where(F.col("did") % 6 == 0).select(
        (F.col("did") * 2 + 1).alias("cid"), "text"
    )
    c = assembled.where(F.col("did") % 6 == 3).select(
        (F.col("did") * 2 + 1).alias("cid"),
        F.concat(
            F.col("text"), F.lit(" Extra zz qq note "),
            F.col("did").cast("string"), F.lit(" ok."),
        ).alias("text"),
    )
    return a.unionByName(b).unionByName(c)


def q_pipeline_e2e(spark, sf_dir):
    """The 23 pipeline operators COMPOSED as one training-data pipeline —
    raw multi-line corpus -> C4 line filter -> PII redaction -> corpus-wide
    line dedup -> exact dedup -> MinHash/LSH near-dedup with connected-
    components canonical pick -> quality + language gates -> elevation
    enrichment of the survivors. Each stage tier scans its input ONCE:
    frames referenced by multiple plan branches (the redacted corpus, the
    cleaned corpus, the exact-dedup survivors) are lazily localCheckpoint'ed
    — Spark SQL has no cross-branch subtree reuse, so without these the
    document corpus would be re-derived per reference.

    Output: (cid, n_emails, n_tokens, quality, pred_lang, elevation) —
    one row per document that survives every gate."""
    corpus = e2e_corpus(_docs(spark, sf_dir))
    filtered = text.line_filter(corpus, id_col="cid")
    red = text.pii_redact(
        filtered.select("cid", F.col("kept_text").alias("text")), id_col="cid"
    )
    red_docs = red.select(
        "cid", "n_emails", F.col("redacted").alias("text")
    ).localCheckpoint(eager=False)
    cleaned = dedup.line_dedup(red_docs, id_col="cid")
    cleaned_docs = cleaned.select(
        "cid", F.col("cleaned_text").alias("text")
    ).localCheckpoint(eager=False)
    ex = dedup.exact_dedup(cleaned_docs, id_col="cid")
    surv1 = cleaned_docs.join(
        ex.where(F.col("is_canonical")).select("cid"), "cid"
    ).localCheckpoint(eager=False)
    sh = dedup.shingle_stream(surv1, id_col="cid")
    sigs = dedup.minhash_signatures(surv1, id_col="cid", shingles=sh)
    cand = dedup.lsh_candidate_pairs(sigs, id_col="cid")
    ver = dedup.jaccard_verify(surv1, cand, id_col="cid", threshold=0.5, shingles=sh)
    dup = ver.where(F.col("is_dup")).select("id_a", "id_b")
    comp = dedup.connected_components(dup, surv1.select("cid"), id_col="cid")
    surv2 = surv1.join(
        comp.where(F.col("is_canonical")).select("cid"), "cid"
    ).localCheckpoint(eager=False)  # referenced by BOTH gate branches below
    q = text.quality_score(surv2, id_col="cid")
    lid = text.lang_id(surv2, id_col="cid")
    gated = (
        q.select("cid", "n_tokens", "quality")
        .join(lid.select("cid", "pred_lang"), "cid")
        .where((F.col("quality") >= 0.6) & (F.col("pred_lang") == "en"))
    )
    pts = gated.join(red_docs.select("cid", "n_emails"), "cid").select(
        "cid", "n_emails", "n_tokens", "quality", "pred_lang",
        (F.lit(35.0) + (F.col("cid") % 2000).cast("double") / F.lit(1000.0)).alias("lat"),
        (F.lit(138.0) + ((F.col("cid") * 7) % 2000).cast("double") / F.lit(1000.0)).alias("lon"),
    )
    from . import driver_queries as dq

    eng = dq.get_engine(spark)
    out = eng.elevation_join(pts, mode="nearest", strategy="broadcast")
    return out.select(
        "cid", "n_emails", "n_tokens", "quality", "pred_lang",
        F.col("elevation").cast("int").alias("elevation"),
    )


def q_props_stats(spark, sf_dir):
    """JSON props extraction + per-type rollup over the events table."""
    from .operators import events as ev

    return ev.props_stats(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_text_stats(spark, sf_dir):
    return text.token_stats(_docs(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    return text.quality_score(_docs(spark, sf_dir))


_LANG_MARKERS = {
    "de": "der und das",
    "en": "the and is",
    "es": "el los y",
    "fr": "le les et",
    "zh": "的 是 不",
}


def q_lang_id(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    marker = F.col("lang")
    for lang, words in _LANG_MARKERS.items():
        marker = F.when(F.col("lang") == lang, words).otherwise(marker)
    enriched = docs.select(
        "doc_id", "lang", F.concat(F.col("text"), F.lit(" "), marker).alias("text")
    )
    out = text.lang_id(enriched)
    return out.join(enriched.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "pred_lang", (F.col("pred_lang") == F.col("lang")).alias("correct")
    )


def q_doc_fingerprint(spark, sf_dir):
    return text.fingerprints(_docs(spark, sf_dir))


def q_bpe_token_stats(spark, sf_dir):
    """Token counting under the BPE-ish regex pre-tokenizer (letter / digit
    / punctuation runs) — the brief's second tokenizer alongside whitespace."""
    return text.bpe_token_stats(_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style duplicate-ngram fractions over a corpus where every
    4th document is deterministically doubled (text || ' ' || text) so the
    signal actually fires: doubled docs show high dup fractions, clean
    docs near zero."""
    docs = _docs(spark, sf_dir)
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat("text", F.lit(" "), "text")
        ).otherwise(F.col("text")).alias("text"),
    )
    return text.repetition_stats(corpus)


def q_top_terms(spark, sf_dir):
    """tf-idf keyword extraction (rational idf — engine-portable exact
    arithmetic): top-3 terms per document."""
    docs = _docs(spark, sf_dir)
    return text.top_terms(docs, n_docs=docs.count(), k=3)


def q_user_sessions(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-minute cutoff):
    one shuffle on user_id serves the lag window, the running-sum session
    grouping, and the per-session rollup."""
    from .operators import events as ev

    return ev.sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))


def phash_dup_corpus(spark, sf_dir) -> DataFrame:
    """The image-payload near-dup corpus: every fixture image plus, for
    each event_id % 13 == 0, a 'dup_N' copy whose phash differs by a
    deterministic 3-bit xor mask (5 bits for every third plant — those
    land ABOVE the hamming<=3 threshold and must be rejected). Bit
    positions stay in [0, 63) so the 63-bit phash never goes negative and
    bit_count(xor(..)) agrees across engines."""
    from . import driver_queries as dq

    base = dq.derive_image_phash(dq._events(spark, sf_dir))
    planted = (
        base.select(
            "image_id",
            "phash",
            F.expr("cast(substring(image_id, 5) as bigint)").alias("e"),
        )
        .where(F.col("e") % 13 == 0)
        .select(
            F.concat(F.lit("dup_"), F.expr("substring(image_id, 5)")).alias(
                "image_id"
            ),
            F.col("phash")
            .bitwiseXOR(
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(e % 63 as int))"
                    " | shiftleft(cast(1 as bigint), cast((e*7+11) % 63 as int))"
                    " | shiftleft(cast(1 as bigint), cast((e*13+29) % 63 as int))"
                    " | (CASE WHEN e % 3 = 0 THEN"
                    " shiftleft(cast(1 as bigint), cast((e*17+5) % 63 as int))"
                    " | shiftleft(cast(1 as bigint), cast((e*23+41) % 63 as int))"
                    " ELSE cast(0 as bigint) END)"
                )
            )
            .alias("phash"),
        )
    )
    return base.unionByName(planted)


def q_phash_near_dup(spark, sf_dir):
    """Image near-duplicate pairs by perceptual-hash hamming distance —
    the image-payload twin of SimHash text dedup, REUSING the same
    Manku-style block-banding engine over the 63-bit phash column (no
    text, no shingles: the signature already exists on every image row).
    Scale shape: one explode into C(4,1) band keys + a single self-equi-
    join — never all-pairs; the oracle is the honest quadratic at fixture
    scale. interleave=True because the fixture phash (like a real
    DCT pHash) concentrates entropy in specific bit ranges — contiguous
    bands leave the top block nearly constant and the self-join
    degenerates toward all-pairs (measured OOM at 107k rows); strided
    bit assignment keeps every band key high-entropy."""
    sigs = phash_dup_corpus(spark, sf_dir).select(
        "image_id", F.col("phash").alias("simhash")
    )
    return dedup.simhash_near_dup_pairs(
        sigs, id_col="image_id", max_hamming=3, sig_bits=63, interleave=True
    )


def frame_ahash_corpus(spark, sf_dir) -> DataFrame:
    """The video-frame near-dup corpus: every sampled frame of the
    event_id % 16 == 0 clips (REAL rawv payloads through
    video_frame_sample) plus, for each frame, a brightness-augmented copy
    (augment_images, delta = 1 + e % 4, no flip) — the re-encoded /
    re-graded twin a frame-level dedup stage must catch. Away from the
    255 rail a uniform shift adds 3*delta to every sampled gray AND
    64*3*delta to the mean total, so the aHash is exactly invariant;
    only rail-saturated samples can flip bits, which keeps genuine pairs
    within a small hamming distance without any synthetic xor planting."""
    from . import driver_queries as dq
    from .operators import multimodal as mm

    ev = dq._events(spark, sf_dir).where(F.col("event_id") % 16 == 0)
    frames = mm.video_frame_sample(
        dq.derive_video_table(ev, spread=False), every_n=3
    ).select(
        "image_id", "bytes", "w", "h", "fmt"
    )
    e = F.element_at(F.split("image_id", "_"), 2).cast("long")
    aug = mm.augment_images(
        frames.select(
            F.concat("image_id", F.lit("_a")).alias("image_id"),
            "bytes",
            "w",
            "h",
            "fmt",
            (F.lit(1) + e % 4).cast("int").alias("aug_delta"),
            F.lit(False).alias("aug_flip"),
        )
    ).select("image_id", "bytes", "w", "h", "fmt")
    return frames.unionByName(aug)


def q_frame_near_dup(spark, sf_dir):
    """Video-frame near-duplicate pairs by CONTENT-derived perceptual
    hash — the full composed multimodal chain: rawv clip -> frame sample
    -> brightness augment -> aHash from the decoded pixels
    (multimodal.image_ahash) -> EXACT-hash collapse -> the same Manku
    block-banding engine as SimHash/phash at hamming <= 3. Unlike
    phash_near_dup (which bands a CARRIED signature column), every
    signature here is recomputed from real payload bytes, so the oracle
    cross-checks the whole decode -> sample -> saturate -> hash
    arithmetic bit-for-bit.

    The exact collapse is load-bearing, not cosmetic: aHash is shift-
    invariant by design, so any corpus with re-graded copies forms LARGE
    hash-equal clusters (the fixture measures 4,500 signatures -> 107
    distinct hashes, clusters up to 94). Banding raw signatures would
    emit every intra-cluster pair — quadratic in cluster size (147,766
    pairs here) and a skewed-key self-join at scale. Collapsing to one
    representative per hash first (one groupBy over 16-byte rows) makes
    the banding input the DISTINCT-signature count and carries cluster
    sizes along as n_a/n_b. Scale shape: map-only hashing, one exact
    groupBy, one explode into C(4,1) band keys + a single self-equi-join
    over representatives; the oracle is the honest quadratic over the
    closed-form-rebuilt signatures."""
    from .operators import multimodal as mm

    sigs = mm.image_ahash(frame_ahash_corpus(spark, sf_dir))
    # referenced by the banding self-join AND both n_a/n_b joins below —
    # no cross-branch subtree reuse in Spark SQL, so materialize once
    reps = (
        sigs.groupBy("ahash")
        .agg(F.min("image_id").alias("image_id"), F.count("*").alias("n_members"))
        .localCheckpoint(eager=False)
    )
    pairs = dedup.simhash_near_dup_pairs(
        reps.select("image_id", F.col("ahash").alias("simhash")),
        id_col="image_id",
        max_hamming=3,
        sig_bits=63,
        interleave=True,
    )
    a = reps.select(F.col("image_id").alias("id_a"), F.col("n_members").alias("n_a"))
    b = reps.select(F.col("image_id").alias("id_b"), F.col("n_members").alias("n_b"))
    return pairs.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b").select(
        "id_a", "id_b", "hamming", "n_a", "n_b"
    )


def q_funnel_stages(spark, sf_dir):
    """Ordered-funnel analysis (view -> click -> purchase) per user — the
    classic product-analytics sequential-match query Spark has no
    primitive for. Contract: stage n+1 counts only at-or-after the
    user's EARLIEST stage-n completion in (ts, event_id) order (the
    deterministic total order; timestamps are exact NTZ epoch micros,
    DST-proof, matching DuckDB epoch_us bit-for-bit).

    Plan shape: the sequential dependency is two chained running-min
    windows over the SAME (user_id, ts, event_id) sort + one groupBy on
    user_id — Catalyst reuses the partitioning and sort across all
    three, so the whole funnel costs exactly ONE Exchange and ONE Sort
    at any scale. No self-joins, no per-stage passes."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts").cast("timestamp_ntz"),
    )
    rows = e.select("user_id", "event_id", "event_type", us.alias("us"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = rows.select(
        "user_id", "event_id", "us", "event_type",
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w).alias("v1"),
    )
    staged = staged.select(
        "user_id", "event_id", "us", "event_type", "v1",
        F.min(
            F.when(
                (F.col("event_type") == "click") & F.col("v1").isNotNull(),
                F.col("us"),
            )
        ).over(w).alias("c1"),
    )
    agg = staged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.min("v1").alias("first_view_us"),
        F.min("c1").alias("first_click_us"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & F.col("c1").isNotNull(),
                F.col("us"),
            )
        ).alias("first_purchase_us"),
    )
    stage = (
        F.when(F.col("first_purchase_us").isNotNull(), 3)
        .when(F.col("first_click_us").isNotNull(), 2)
        .when(F.col("first_view_us").isNotNull(), 1)
        .otherwise(0)
    )
    return agg.select(
        "user_id",
        "n_events",
        "first_view_us",
        "first_click_us",
        "first_purchase_us",
        stage.cast("int").alias("stage"),
    )


def audio_fp_corpus(spark, sf_dir) -> DataFrame:
    """The audio near-dup corpus: every event_id % 8 == 0 clip (REAL
    pcm16/pcm16z payloads) plus a gain-scaled copy (audio_gain 3/4 —
    floor((s*3)/4) per sample, re-encoded with the SAME codec) — the
    re-leveled/re-encoded twin an audio dedup stage must catch. The
    energy-delta fingerprint compares CONSECUTIVE window energies, and a
    uniform gain scales all energies by ~9/16 with only floor noise, so
    almost every delta sign survives and genuine pairs land within a
    small hamming distance — no synthetic xor planting."""
    from . import driver_queries as dq
    from .operators import multimodal as mm

    ev = dq._events(spark, sf_dir).where(F.col("event_id") % 8 == 0)
    aud = dq.derive_audio_table(ev, spread=False)
    gained = mm.audio_gain(aud, 3, 4).select(
        F.concat("audio_id", F.lit("_g")).alias("audio_id"),
        "bytes",
        "sr",
        "n_samples",
        "fmt",
    )
    return aud.unionByName(gained)


def q_audio_near_dup(spark, sf_dir):
    """Audio near-duplicate pairs by CONTENT-derived acoustic fingerprint
    — completing the dedup triangle (text SimHash, image/video aHash,
    audio energy-delta): pcm16/pcm16z decode -> 63-bit Haitsma-Kalker-
    style sign-of-energy-delta fingerprint (multimodal.audio_fingerprint,
    all-integer) -> EXACT-hash collapse -> the same Manku banding engine
    at hamming <= 3 over representatives, cluster sizes as n_a/n_b. Same
    exact-collapse rationale as frame_near_dup: fingerprints are
    gain-invariant by design, so re-leveled corpora form hash-equal
    clusters that would make raw banding quadratic. Oracle rebuilds every
    fingerprint from the sample closed form and does the honest quadratic
    over representatives."""
    from .operators import multimodal as mm

    sigs = mm.audio_fingerprint(audio_fp_corpus(spark, sf_dir))
    reps = (
        sigs.groupBy("fp")
        .agg(F.min("audio_id").alias("audio_id"), F.count("*").alias("n_members"))
        .localCheckpoint(eager=False)
    )
    pairs = dedup.simhash_near_dup_pairs(
        reps.select("audio_id", F.col("fp").alias("simhash")),
        id_col="audio_id",
        max_hamming=3,
        sig_bits=63,
        interleave=True,
    )
    a = reps.select(F.col("audio_id").alias("id_a"), F.col("n_members").alias("n_a"))
    b = reps.select(F.col("audio_id").alias("id_b"), F.col("n_members").alias("n_b"))
    return pairs.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b").select(
        "id_a", "id_b", "hamming", "n_a", "n_b"
    )


def q_event_asof_join(spark, sf_dir):
    """As-of join (the time-series join Spark lacks as a primitive): each
    click event picks up the latest prior-or-equal purchase by the same
    user — union-sort window shape, ONE shuffle on user_id, no range-join
    explosion. Timestamps are exact naive epoch microseconds (NTZ math,
    DST-proof) matching the DuckDB oracle's epoch_us."""
    from .operators import events as ev

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts").cast("timestamp_ntz"),
    )
    probes = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("us")
    )
    markers = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        us.alias("us"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    res = ev.asof_join(
        probes,
        markers,
        key_col="user_id",
        ts_col="us",
        payload_cols=["purchase_id", "purchase_value"],
        tiebreak_col="purchase_id",
    )
    return res.select(
        "event_id",
        "user_id",
        "us",
        F.col("asof_purchase_id").alias("purchase_id"),
        F.col("asof_purchase_value").alias("purchase_value"),
        (F.col("us") - F.col("asof_ts")).alias("gap_us"),
    )


INTERVAL_LEN_US = 45 * 60 * 1_000_000  # 45-minute attribution window
INTERVAL_BUCKET_US = 15 * 60 * 1_000_000  # ~median window length / 3


def q_interval_attribution(spark, sf_dir):
    """Attribution-window rollup via the bucketized point-in-interval join
    (operators/events.interval_join — the 1-D radius-join shape): every
    101st event opens a 45-minute window; count the same user's events
    inside it, their span, and distinct types. One (key, bucket) equi-join
    replaces the range predicate — candidate volume is |events| + |windows|
    x <=4 spanned buckets, never the per-user cross product a naive range
    join shuffles at 100 TB. Exact int64 microsecond math throughout."""
    from .operators import events as ev

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts").cast("timestamp_ntz"),
    )
    base = e.select("event_id", "user_id", "event_type", us.alias("us"))
    windows = base.where(F.col("event_id") % 101 == 0).select(
        F.col("event_id").alias("window_id"),
        "user_id",
        F.col("us").alias("ws_us"),
        (F.col("us") + F.lit(INTERVAL_LEN_US)).alias("we_us"),
    )
    pairs = ev.interval_join(
        base.select("event_id", "user_id", "event_type", "us"),
        windows,
        bucket_us=INTERVAL_BUCKET_US,
    )
    return pairs.groupBy("window_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("first_us"),
        F.max("us").alias("last_us"),
        F.countDistinct("event_type").alias("n_types"),
    )


def q_rolling_fingerprint(spark, sf_dir):
    """Position-sensitive polynomial rolling hash per document (the classic
    Rabin-Karp fingerprint), exact-integer parity with the SQL oracle."""
    return text.rolling_fingerprint(_docs(spark, sf_dir))


# --- similarity-search queries -------------------------------------------------------


def q_ann_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return ann.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def q_ann_lsh_buckets(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return emb.select(
        "vec_id", ann.lsh_bucket_expr("embedding", PLANES).alias("bucket")
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: each query probes its nprobe=2 nearest
    coarse-centroid lists (16 centroids)."""
    emb = _emb(spark, sf_dir)
    return ann.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), CENTROIDS, k=5, nprobe=IVF_NPROBE
    )


def q_ann_lsh_topk_multi(spark, sf_dir):
    """Multi-table LSH approximate top-k (the scale path's actual search
    query, not just bucket assignment): candidates from ANY of the 4x8-plane
    tables' bucket collisions, exact cosine rank on candidates only.
    Deterministic fixed planes shared with the SQL oracle."""
    emb = _emb(spark, sf_dir)
    return ann.lsh_topk_multi(
        emb, emb.where(F.col("vec_id") < 10), ANN_TABLES, k=5
    )


def q_ann_pq_topk(spark, sf_dir):
    """IVF-PQ approximate top-k with asymmetric distance computation: the
    corpus side of the join carries only (inverted-list id, m PQ codes) —
    the memory-side scale path when even the embedding column is too wide
    to shuffle. Deterministic fixed codebooks shared with the SQL oracle."""
    emb = _emb(spark, sf_dir)
    return ann.pq_adc_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        CENTROIDS,
        PQ_CODEBOOKS,
        k=5,
        nprobe=IVF_NPROBE,
    )


def q_embedding_near_dup(spark, sf_dir):
    """Near-dup pairs through the multi-table LSH-bucketed path — NO cross
    join anywhere in the plan (asserted by scripts/explain_audit.py); the
    oracle mirrors the same 4x8-plane candidate generation."""
    emb = _emb(spark, sf_dir)
    scaled = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.5).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(scaled)
    out = ann.near_dup_pairs(corpus, NEARDUP_TABLES, threshold=0.999)
    return out.select("id_a", "id_b")  # int-only output: threshold-robust


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic pruning over the embedding corpus + planted
    scalar-multiple copies: IVF-centroid clustering (the ann_ivf_topk-
    oracled assign kernel), then within-cluster greedy lowest-id-wins
    cosine pruning at 0.95 — pairwise cosines never leave the worker, only
    the per-vector verdict row does. Copies sit at cosine ~1.0 to their
    originals (same centroid — dots scale uniformly), so every copy must
    be dropped and every original kept unless the corpus itself collides."""
    emb = _emb(spark, sf_dir)
    scaled = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.5).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(scaled)
    return ann.semdedup(corpus, CENTROIDS, threshold=0.95)


# --- oracle SQL -----------------------------------------------------------------------

_SQL_EMB_D = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (
  SELECT vec_id, v,
    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM e
)
"""


def oracle_sql() -> dict[str, str]:
    dedup_exact_sql = (
        "WITH "
        + _SQL_DUP_CORPUS
        + """
SELECT cid, md5(text) AS grp_hash,
  count(*) OVER (PARTITION BY md5(text)) AS grp_size,
  cid = min(cid) OVER (PARTITION BY md5(text)) AS is_canonical
FROM corpus
"""
    )
    minhash_sql = (
        "WITH corpus AS (SELECT doc_id AS cid, text FROM documents), "
        + _SQL_SHINGLES
        + ", "
        + _SQL_SIGS
        + "SELECT cid, mh0, mh1, mh2, mh3 FROM sigs"
    )
    lsh_sql = (
        "WITH "
        + _SQL_NEARDUP_CORPUS
        + ", "
        + _SQL_SHINGLES
        + ", "
        + _SQL_SIGS
        + """,
bands AS (
  SELECT cid, CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR) AS band_key FROM sigs
  UNION ALL
  SELECT cid, CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR) AS band_key FROM sigs
),
pairs AS (
  SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.cid < b.cid
),
sizes AS (SELECT cid, count(*) AS n_sh FROM sh GROUP BY cid),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM pairs p
  JOIN sh sa ON sa.cid = p.id_a
  JOIN sh sb ON sb.cid = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
  CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
  CAST(za.n_sh + zb.n_sh - COALESCE(i.inter, 0) AS BIGINT) AS union_n,
  CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(za.n_sh + zb.n_sh - COALESCE(i.inter, 0) AS DOUBLE) AS jaccard,
  (CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(za.n_sh + zb.n_sh - COALESCE(i.inter, 0) AS DOUBLE)) >= 0.5 AS is_dup
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes za ON za.cid = p.id_a
JOIN sizes zb ON zb.cid = p.id_b
"""
    )
    inc_sql = (
        "WITH "
        + _SQL_INCDEDUP_TABLES.strip()
        + ", "
        + _shingle_sig_block("corpus_c", "_c").strip()
        + ", "
        + _shingle_sig_block("corpus_b", "_b").strip()
        + """,
bands_c AS (
  SELECT cid, 0 AS band_id, CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR) AS band_key FROM sigs_c
  UNION ALL
  SELECT cid, 1 AS band_id, CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR) AS band_key FROM sigs_c
),
bands_b AS (
  SELECT cid, 0 AS band_id, CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR) AS band_key FROM sigs_b
  UNION ALL
  SELECT cid, 1 AS band_id, CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR) AS band_key FROM sigs_b
),
cand AS (
  SELECT DISTINCT b.cid AS bid, c.cid AS ccid
  FROM bands_b b JOIN bands_c c ON b.band_id = c.band_id AND b.band_key = c.band_key
),
sz_c AS (SELECT cid, count(*) AS n FROM sh_c GROUP BY cid),
sz_b AS (SELECT cid, count(*) AS n FROM sh_b GROUP BY cid),
icnt AS (
  SELECT p.bid, p.ccid, count(*) AS i
  FROM cand p
  JOIN sh_b sb ON sb.cid = p.bid
  JOIN sh_c sc ON sc.cid = p.ccid AND sc.shingle = sb.shingle
  GROUP BY p.bid, p.ccid
),
ver AS (
  SELECT p.bid, p.ccid,
    CAST(COALESCE(i.i, 0) AS DOUBLE)
      / CAST(zb.n + zc.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
  FROM cand p
  LEFT JOIN icnt i ON i.bid = p.bid AND i.ccid = p.ccid
  JOIN sz_b zb ON zb.cid = p.bid
  JOIN sz_c zc ON zc.cid = p.ccid
),
qual AS (SELECT * FROM ver WHERE jaccard >= 0.5),
pick AS (SELECT bid, min(ccid) AS near_dup_of FROM qual GROUP BY bid),
near AS (
  SELECT p.bid, p.near_dup_of, q.jaccard AS near_jaccard
  FROM pick p JOIN qual q ON q.bid = p.bid AND q.ccid = p.near_dup_of
),
exi AS (SELECT md5(text) AS h, min(cid) AS exact_dup_of FROM corpus_c GROUP BY md5(text)),
bex AS (
  SELECT b.cid AS bid, e.exact_dup_of
  FROM corpus_b b LEFT JOIN exi e ON md5(b.text) = e.h
)
SELECT x.bid AS cid, x.exact_dup_of, n.near_dup_of, n.near_jaccard,
  (x.exact_dup_of IS NULL AND n.near_dup_of IS NULL) AS is_novel
FROM bex x LEFT JOIN near n ON n.bid = x.bid
"""
    )
    # INDEPENDENT of the Spark plan's prefix filtering: a direct
    # shingle-equality quadratic (complete for J >= t since any qualifying
    # pair shares a 4-gram), so a completeness bug in the prefix logic
    # MISMATCHES instead of hiding. Rational threshold compare in exact
    # BIGINTs on both engines.
    jaccard_join_sql = (
        "WITH "
        + _SQL_NEARDUP_CORPUS
        + """,
tk AS (SELECT cid, string_split(text, ' ') AS toks FROM corpus),
sh4 AS (
  SELECT DISTINCT cid, shingle FROM (
    SELECT cid,
      unnest(list_transform(generate_series(1, len(toks) - 3),
        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS shingle
    FROM tk
  )
),
sizes AS (SELECT cid, count(*) AS n_sh FROM sh4 GROUP BY cid),
inter AS (
  SELECT sa.cid AS id_a, sb.cid AS id_b, count(*) AS inter
  FROM sh4 sa JOIN sh4 sb ON sb.shingle = sa.shingle AND sa.cid < sb.cid
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
  CAST(za.n_sh + zb.n_sh - i.inter AS BIGINT) AS union_n,
  CAST(i.inter AS DOUBLE) / CAST(za.n_sh + zb.n_sh - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes za ON za.cid = i.id_a
JOIN sizes zb ON zb.cid = i.id_b
WHERE 5 * i.inter >= 3 * (za.n_sh + zb.n_sh - i.inter)
"""
    )
    groups_sql = (
        "WITH RECURSIVE "
        + _SQL_NEARDUP_CORPUS
        + ", "
        + _SQL_SHINGLES
        + ", "
        + _SQL_SIGS
        + """,
bands AS (
  SELECT cid, CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR) AS band_key FROM sigs
  UNION ALL
  SELECT cid, CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR) AS band_key FROM sigs
),
cand AS (
  SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.cid < b.cid
),
sizes AS (SELECT cid, count(*) AS n_sh FROM sh GROUP BY cid),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM cand p
  JOIN sh sa ON sa.cid = p.id_a
  JOIN sh sb ON sb.cid = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
dup AS (
  SELECT p.id_a, p.id_b
  FROM cand p
  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
  JOIN sizes za ON za.cid = p.id_a
  JOIN sizes zb ON zb.cid = p.id_b
  WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE)
        / CAST(za.n_sh + zb.n_sh - COALESCE(i.inter, 0) AS DOUBLE) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM dup UNION SELECT id_b AS a, id_a AS b FROM dup),
reach(src, dst) AS (
  SELECT cid, cid FROM corpus
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS cid, min(dst) AS group_id, src = min(dst) AS is_canonical
FROM reach GROUP BY src
"""
    )
    simhash_sql = """
WITH toks AS (
  SELECT doc_id AS cid, unnest(string_split(text, ' ')) AS tok FROM documents
),
th AS (SELECT cid, md5(tok) AS h FROM toks),
bits AS (
  SELECT cid, r.range AS b,
    strpos('0123456789abcdef', substr(h, CAST(r.range // 4 AS INT) + 1, 1)) - 1 AS digit
  FROM th, range(0, 60) r
),
votes AS (
  SELECT cid, b,
    sum(((digit // CAST(pow(2, b % 4) AS INT)) % 2) * 2 - 1) AS s
  FROM bits GROUP BY 1, 2
)
SELECT cid, CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY cid
"""
    simhash_near_dup_sql = (
        "WITH "
        + _SQL_NEARDUP_CORPUS
        + """,
toks AS (SELECT cid, unnest(string_split(text, ' ')) AS tok FROM corpus),
th AS (SELECT cid, md5(tok) AS h FROM toks),
bits AS (
  SELECT cid, r.range AS b,
    strpos('0123456789abcdef', substr(h, CAST(r.range // 4 AS INT) + 1, 1)) - 1 AS digit
  FROM th, range(0, 60) r
),
votes AS (
  SELECT cid, b, sum(((digit // CAST(pow(2, b % 4) AS INT)) % 2) * 2 - 1) AS s
  FROM bits GROUP BY 1, 2
),
sigs AS (
  SELECT cid, CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY cid
),
chunks AS (
  SELECT cid, simhash,
    (simhash // CAST(pow(2, 0) AS BIGINT)) & 32767 AS ch0,
    (simhash // CAST(pow(2, 15) AS BIGINT)) & 32767 AS ch1,
    (simhash // CAST(pow(2, 30) AS BIGINT)) & 32767 AS ch2,
    (simhash // CAST(pow(2, 45) AS BIGINT)) & 32767 AS ch3
  FROM sigs
),
pairs AS (
  SELECT DISTINCT a.cid AS id_a, b.cid AS id_b, a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunks a JOIN chunks b
    ON a.cid < b.cid
   AND (a.ch0 = b.ch0 OR a.ch1 = b.ch1 OR a.ch2 = b.ch2 OR a.ch3 = b.ch3)
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
"""
    )
    repetition_sql = """
WITH corpus AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text ELSE text END AS text
  FROM documents
),
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
g AS (
  SELECT doc_id, array_length(t) AS n_tokens,
    list_transform(generate_series(1, greatest(array_length(t) - 1, 0)),
                   i -> t[i] || ' ' || t[i + 1]) AS g2,
    list_transform(generate_series(1, greatest(array_length(t) - 2, 0)),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS g3
  FROM tk
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  CASE WHEN len(g2) > 0
       THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
       ELSE 0.0 END AS dup_bigram_frac,
  CASE WHEN len(g3) > 0
       THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
       ELSE 0.0 END AS dup_trigram_frac
FROM g
"""
    top_terms_sql = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfc.df_count,
    CAST(tf.tf AS DOUBLE)
      * (CAST((SELECT count(*) + 1 FROM documents) AS DOUBLE)
         / CAST(dfc.df_count + 1 AS DOUBLE)) AS score
  FROM tf JOIN dfc USING (term)
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM s)
SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df_count, score FROM r WHERE rank <= 3
"""
    user_sessions_sql = """
WITH f AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
         THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
),
g AS (
  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS grp
  FROM f
)
SELECT user_id, min(event_id) AS session_id, count(*) AS n_events,
  max(us) - min(us) AS duration_us,
  count(DISTINCT event_type) AS n_event_types
FROM g GROUP BY user_id, grp
"""
    # image phash near-dup: the oracle is the honest all-pairs quadratic
    # (fine at sf0.01's ~10k images) — it shares NO candidate-generation
    # logic with the banding engine, so a banding recall bug cannot hide.
    # The planted-dup masks mirror phash_dup_corpus bit-for-bit.
    from . import driver_queries as _dq

    phash_near_dup_sql = (
        _dq.images_pts_cte()
        + """,
pl AS (
  SELECT image_id, phash, CAST(substr(image_id, 5) AS BIGINT) AS e
  FROM ipts WHERE CAST(substr(image_id, 5) AS BIGINT) % 13 = 0
),
planted AS (
  SELECT 'dup_' || substr(image_id, 5) AS image_id,
    xor(phash,
        (1::BIGINT << CAST(e % 63 AS INT))
      | (1::BIGINT << CAST((e*7+11) % 63 AS INT))
      | (1::BIGINT << CAST((e*13+29) % 63 AS INT))
      | (CASE WHEN e % 3 = 0 THEN
            (1::BIGINT << CAST((e*17+5) % 63 AS INT))
          | (1::BIGINT << CAST((e*23+41) % 63 AS INT))
         ELSE 0::BIGINT END)) AS phash
  FROM pl
),
corpus AS (
  SELECT image_id, phash FROM ipts
  UNION ALL SELECT image_id, phash FROM planted
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM corpus a JOIN corpus b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""
    )
    # video-frame near-dup: the oracle rebuilds every aHash from the rawv
    # pixel closed form (e*31 + 11f + 7k) % 256 — nearest-sampled 8x8
    # lattice, r+g+b gray with least(255, v + delta) saturation for the
    # augmented variant, division-free mean threshold gray*64 >= total,
    # 63 packed bits — collapses exact-equal hashes to min-id
    # representatives with member counts, then does the honest quadratic
    # over the ~10^2 representatives. It shares NO candidate logic with
    # the banding engine and NO decode logic with image_ahash.
    frame_near_dup_sql = """
WITH ev AS (
  SELECT event_id AS e, 4 + event_id % 5 AS w, 4 + event_id % 4 AS h,
         6 + event_id % 10 AS nf
  FROM events WHERE event_id % 16 = 0
),
fs AS (
  SELECT e, w, h, unnest(generate_series(0, nf - 1)) AS f FROM ev
),
sel AS (SELECT e, w, h, f FROM fs WHERE f % 3 = 0),
var AS (
  SELECT e, w, h, f,
    'vid_' || CAST(e AS VARCHAR) || '_f' || CAST(f AS VARCHAR) AS image_id,
    0 AS delta FROM sel
  UNION ALL
  SELECT e, w, h, f,
    'vid_' || CAST(e AS VARCHAR) || '_f' || CAST(f AS VARCHAR) || '_a'
      AS image_id,
    1 + CAST(e % 4 AS INT) AS delta FROM sel
),
cells AS (
  SELECT v.*, gi.range AS i, gj.range AS j,
    (((gi.range * v.h) // 8) * v.w + ((gj.range * v.w) // 8)) * 3 AS k0
  FROM var v, range(0, 8) gi, range(0, 8) gj
),
gray AS (
  SELECT image_id, i * 8 + j AS idx,
      least(255, (e*31 + 11*f + 7*k0) % 256 + delta)
    + least(255, (e*31 + 11*f + 7*(k0+1)) % 256 + delta)
    + least(255, (e*31 + 11*f + 7*(k0+2)) % 256 + delta) AS gr
  FROM cells
),
tot AS (SELECT image_id, sum(gr) AS total FROM gray GROUP BY image_id),
hs AS (
  SELECT g.image_id,
    CAST(sum(CASE WHEN g.idx < 63 AND g.gr * 64 >= t.total
        THEN (1::BIGINT << CAST(g.idx AS INT)) ELSE 0::BIGINT END)
      AS BIGINT) AS ahash
  FROM gray g JOIN tot t USING (image_id)
  GROUP BY g.image_id
),
reps AS (
  SELECT min(image_id) AS image_id, ahash,
    CAST(count(*) AS BIGINT) AS n_members
  FROM hs GROUP BY ahash
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming,
  a.n_members AS n_a, b.n_members AS n_b
FROM reps a JOIN reps b ON a.image_id < b.image_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
"""
    # ordered funnel: the identical chained running-min windows over the
    # same (user_id, us, event_id) total order; epoch_us matches the NTZ
    # micros exactly (same precedent as user_sessions/event_asof_join)
    funnel_stages_sql = """
WITH r AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
),
s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
    OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS UNBOUNDED PRECEDING) AS v1
  FROM r
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND v1 IS NOT NULL THEN us END)
    OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS UNBOUNDED PRECEDING) AS c1
  FROM s1
),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(min(v1) AS BIGINT) AS first_view_us,
    CAST(min(c1) AS BIGINT) AS first_click_us,
    CAST(min(CASE WHEN event_type = 'purchase' AND c1 IS NOT NULL
             THEN us END) AS BIGINT) AS first_purchase_us
  FROM s2 GROUP BY user_id
)
SELECT user_id, n_events, first_view_us, first_click_us, first_purchase_us,
  CAST(CASE WHEN first_purchase_us IS NOT NULL THEN 3
            WHEN first_click_us IS NOT NULL THEN 2
            WHEN first_view_us IS NOT NULL THEN 1 ELSE 0 END
       AS INTEGER) AS stage
FROM a
"""
    # audio near-dup: every fingerprint rebuilt from the sample closed
    # form ((e*17 + 5k) % 65536) - 32768 — window j = (k*64)//n, exact
    # int energies, sign-of-delta bits — for the original AND the
    # gain-scaled variant floor((s*3)/4.0) (double division by a power
    # of two is exact, so floor == NumPy's // — DuckDB's integer // would
    # TRUNCATE negatives instead). Exact-equal fingerprints collapse to
    # min-id representatives; the honest quadratic runs over those.
    audio_near_dup_sql = """
WITH ev AS (
  SELECT event_id AS e, 256 + event_id % 200 AS n
  FROM events WHERE event_id % 8 = 0
),
sk AS (
  SELECT e, n, unnest(generate_series(0, n - 1)) AS k FROM ev
),
s AS (
  SELECT e, n, k, (k * 64) // n AS w,
    ((e * 17 + 5 * k) % 65536) - 32768 AS v
  FROM sk
),
var AS (
  SELECT 'aud_' || CAST(e AS VARCHAR) AS audio_id, e, n, w,
    CAST(sum(v * v) AS BIGINT) AS ew
  FROM s GROUP BY e, n, w
  UNION ALL
  SELECT 'aud_' || CAST(e AS VARCHAR) || '_g' AS audio_id, e, n, w,
    CAST(sum(CAST(floor((v * 3) / 4.0) AS BIGINT)
           * CAST(floor((v * 3) / 4.0) AS BIGINT)) AS BIGINT) AS ew
  FROM s GROUP BY e, n, w
),
fp AS (
  SELECT a.audio_id,
    CAST(sum(CASE WHEN b.ew > a.ew
        THEN (1::BIGINT << CAST(a.w AS INT)) ELSE 0::BIGINT END)
      AS BIGINT) AS fp
  FROM var a JOIN var b
    ON b.audio_id = a.audio_id AND b.w = a.w + 1
  WHERE a.w < 63
  GROUP BY a.audio_id
),
reps AS (
  SELECT min(audio_id) AS audio_id, fp,
    CAST(count(*) AS BIGINT) AS n_members
  FROM fp GROUP BY fp
)
SELECT a.audio_id AS id_a, b.audio_id AS id_b,
  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming,
  a.n_members AS n_a, b.n_members AS n_b
FROM reps a JOIN reps b ON a.audio_id < b.audio_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""
    # DuckDB ASOF LEFT JOIN shares asof_join's exact contract: backward
    # inclusive (p.us >= m.us), per-key, NULL payload when no marker
    # qualifies; the pe pre-reduce (max/arg_max per (user, us)) mirrors the
    # operator's tiebreak sort-order resolution (greatest tiebreak wins at
    # equal ts), so duplicate marker timestamps resolve identically
    event_asof_join_sql = """
WITH pr AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'click'
),
pe AS (
  SELECT user_id, epoch_us(ts) AS us,
    max(event_id) AS purchase_id,
    arg_max(value, event_id) AS purchase_value
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, epoch_us(ts)
)
SELECT pr.event_id, pr.user_id, pr.us,
  pe.purchase_id, pe.purchase_value, pr.us - pe.us AS gap_us
FROM pr ASOF LEFT JOIN pe ON pr.user_id = pe.user_id AND pr.us >= pe.us
"""
    # INDEPENDENT formulation: the oracle states the range predicate
    # directly (the naive per-key range join DuckDB plans fine at sf0.01),
    # so any bucketization bug in interval_join (off-by-one bucket span,
    # non-covering explode, dropped boundary) mismatches instead of hiding
    interval_attribution_sql = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
),
w AS (
  SELECT event_id AS window_id, user_id, us AS ws_us,
    us + {INTERVAL_LEN_US} AS we_us
  FROM base WHERE event_id % 101 = 0
)
SELECT w.window_id, w.user_id,
  COUNT(*) AS n_events,
  MIN(b.us) AS first_us,
  MAX(b.us) AS last_us,
  COUNT(DISTINCT b.event_type) AS n_types
FROM w JOIN base b
  ON b.user_id = w.user_id AND b.us >= w.ws_us AND b.us <= w.we_us
GROUP BY w.window_id, w.user_id
"""
    # the ONE definition of each PII pattern (operators/text.py) feeds both
    # engines — the Python string values interpolate into DuckDB SQL
    # verbatim, so the oracle can never drift from the operator
    pii_email = text.PII_EMAIL
    pii_ipv4 = text.PII_IPV4
    pii_phone = text.PII_PHONE
    pii_sql = (
        "WITH "
        + _SQL_PII_CORPUS
        + f"""
SELECT cid,
  CAST(len(regexp_extract_all(text, '{pii_email}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{pii_ipv4}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(text, '{pii_phone}')) AS BIGINT) AS n_phones,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{pii_email}', '<EMAIL>', 'g'),
    '{pii_ipv4}', '<IP>', 'g'),
    '{pii_phone}', '<PHONE>', 'g') AS redacted
FROM corpus
"""
    )
    line_filter_sql = (
        "WITH "
        + _SQL_LINE_CORPUS
        + """,
s AS (SELECT cid, string_split(text, chr(10)) AS lines FROM corpus),
k AS (
  SELECT cid, lines,
    list_filter(lines, x -> regexp_matches(x, '[.!?"]\\r?$')
      AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3) AS keep
  FROM s
)
SELECT cid, CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(keep) AS BIGINT) AS n_kept,
  array_to_string(keep, chr(10)) AS kept_text
FROM k
"""
    )
    line_dedup_sql = (
        "WITH "
        + _SQL_BOILERPLATE_CORPUS
        + """,
s AS (SELECT cid, string_split(text, chr(10)) AS ls FROM corpus),
ln0 AS (SELECT cid, ls, unnest(generate_series(1, len(ls))) AS pos FROM s),
ln AS (SELECT cid, pos, ls[pos] AS line FROM ln0),
cnt AS (SELECT line, count(DISTINCT cid) AS n_docs FROM ln GROUP BY line),
keep AS (SELECT cid, pos, line FROM ln JOIN cnt USING (line) WHERE n_docs <= 2),
agg AS (
  SELECT cid, count(*) AS n_kept,
    string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
  FROM keep GROUP BY cid
)
SELECT s.cid, CAST(len(s.ls) AS BIGINT) AS n_lines,
  CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
  COALESCE(agg.cleaned_text, '') AS cleaned_text
FROM s LEFT JOIN agg ON s.cid = agg.cid
"""
    )
    # TRY_CAST, not CAST: Spark's get_json_object(...).cast('long') yields
    # NULL for a non-integer k, so the oracle must null out (and exclude
    # from the aggregates) rather than hard-crash on the same row
    props_stats_sql = """
SELECT event_type,
  count(*) AS n_events,
  count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_key,
  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""
    text_stats_sql = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
  CAST(sum(length(tok)) AS DOUBLE) / count(*) AS avg_token_len,
  CAST(count(DISTINCT tok) AS DOUBLE) / count(*) AS type_token_ratio
FROM toks GROUP BY doc_id
"""
    text_quality_sql = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
st AS (
  SELECT doc_id, count(*) AS n_tokens,
    CAST(count(DISTINCT tok) AS DOUBLE) / count(*) AS ttr,
    CAST(sum(length(tok)) AS DOUBLE) / count(*) AS atl
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_tokens, ttr AS type_token_ratio,
  (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END) * 0.4
   + LEAST(ttr * 1.25, 1.0) * 0.4
   + LEAST(atl / 8.0, 1.0) * 0.2 AS quality
FROM st
"""
    lang_stop = {
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
        "en": ["the", "and", "is", "of", "to", "in", "that", "it"],
        "es": ["el", "la", "los", "las", "y", "es", "de", "que"],
        "fr": ["le", "la", "les", "et", "est", "de", "que", "un"],
        "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
    }
    marker_case = " ".join(
        f"WHEN '{lang}' THEN '{words}'" for lang, words in _LANG_MARKERS.items()
    )
    score_cols = ",\n    ".join(
        "sum(CASE WHEN tok IN ({}) THEN 1 ELSE 0 END) AS s_{}".format(
            ", ".join(f"'{w}'" for w in lang_stop[lang]), lang
        )
        for lang in sorted(lang_stop)
    )
    langs_sorted = sorted(lang_stop)
    pred_expr = "NULL"
    for lang in reversed(langs_sorted):
        pred_expr = f"CASE WHEN s_{lang} = best THEN '{lang}' ELSE {pred_expr} END"
    lang_id_sql = f"""
WITH enriched AS (
  SELECT doc_id, lang, text || ' ' || (CASE lang {marker_case} ELSE lang END) AS text
  FROM documents
),
toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM enriched),
scored AS (
  SELECT doc_id, lang,
    {score_cols}
  FROM toks GROUP BY doc_id, lang
),
withbest AS (
  SELECT *, GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS best FROM scored
)
SELECT doc_id, lang, {pred_expr} AS pred_lang,
  ({pred_expr}) = lang AS correct
FROM withbest
"""
    fingerprint_sql = """
WITH corpus AS (SELECT doc_id AS cid, text FROM documents),
tk AS (SELECT cid, text, string_split(text, ' ') AS toks FROM corpus),
sh AS (
  SELECT cid, min(md5(shingle)) AS min_shingle_fp FROM (
    SELECT cid,
      unnest(list_transform(generate_series(1, array_length(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1])) AS shingle
    FROM tk
  ) GROUP BY cid
)
SELECT c.cid AS doc_id, md5(c.text) AS md5_fp, s.min_shingle_fp
FROM corpus c LEFT JOIN sh s ON s.cid = c.cid
"""
    bpe_stats_sql = r"""
WITH tk AS (
  SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f\x0B]+') AS toks
  FROM documents
)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_bpe_distinct,
  CASE WHEN len(toks) > 0
       THEN CAST(list_reduce(list_transform(toks, t -> CAST(length(t) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE)
       ELSE NULL END AS avg_bpe_token_len
FROM tk
"""
    rolling_fp_sql = """
WITH th AS (
  SELECT doc_id,
    list_transform(string_split(text, ' '),
                   t -> ('0x' || substr(md5(t), 1, 7))::BIGINT) AS hs
  FROM documents
)
SELECT doc_id,
  list_reduce(hs, (acc, v) -> (acc * 131 + v) % 2147483647) AS rolling_fp
FROM th
"""
    ann_topk_sql = (
        "WITH "
        + _SQL_EMB_D
        + """,
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
    list_reduce(list_transform(list_zip(q.v, c.v), s -> s[1] * s[2]), (a, b) -> a + b)
      / (q.nrm * c.nrm) AS cosine
  FROM n q CROSS JOIN n c
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank FROM p)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, cosine FROM r WHERE rank <= 5
"""
    )
    def bucket_sql(planes: list[list[float]], vexpr: str = "v") -> str:
        terms = []
        for j, p in enumerate(planes):
            arr = "[" + ", ".join(f"{v!r}" for v in p) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_reduce(list_transform(list_zip({vexpr}, {arr}), s -> s[1] * s[2]), "
                f"(a, b) -> a + b) > 0 THEN {1 << j} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    lsh_buckets_sql = (
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)\n"
        "SELECT vec_id, CAST(" + bucket_sql(PLANES) + " AS INT) AS bucket FROM e"
    )
    # IVF: argmax over centroid dots, lowest index wins ties
    cent_dots = []
    for i, c in enumerate(CENTROIDS):
        arr = "[" + ", ".join(f"{v!r}" for v in c) + "]::DOUBLE[]"
        cent_dots.append(
            f"list_reduce(list_transform(list_zip(v, {arr}), s -> s[1] * s[2]), (a, b) -> a + b) AS d{i}"
        )
    best = "GREATEST(" + ", ".join(f"d{i}" for i in range(len(CENTROIDS))) + ")"
    assign = "NULL"
    for i in reversed(range(len(CENTROIDS))):
        assign = f"CASE WHEN d{i} = best THEN {i} ELSE {assign} END"
    probe_structs = ", ".join(
        f"struct_pack(idx := {i}, dd := d{i})" for i in range(len(CENTROIDS))
    )
    ivf_sql = (
        "WITH "
        + _SQL_EMB_D
        + f""",
dots AS (SELECT vec_id, v, nrm, {', '.join(cent_dots)} FROM n),
assigned AS (SELECT *, {best} AS best FROM dots),
bucketed AS (SELECT vec_id, v, nrm, CAST({assign} AS INT) AS lst FROM assigned),
probes AS (
  SELECT vec_id, v, nrm, CAST(u.idx AS INT) AS lst
  FROM (SELECT vec_id, v, nrm, unnest([{probe_structs}]) AS u FROM dots WHERE vec_id < 10)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY u.dd DESC, u.idx ASC) <= {IVF_NPROBE}
),
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
    list_reduce(list_transform(list_zip(q.v, c.v), s -> s[1] * s[2]), (a, b) -> a + b)
      / (q.nrm * c.nrm) AS cosine
  FROM probes q JOIN bucketed c ON q.lst = c.lst
  WHERE c.vec_id <> q.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank FROM p)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, cosine FROM r WHERE rank <= 5
"""
    )
    # IVF-PQ / ADC: per-subspace squared distances drive BOTH the corpus
    # encode (argmin -> code) and the query LUT; fold order matches the
    # Spark _sub_sqdist expression bit-for-bit
    pq_m, pq_k, pq_d = len(PQ_CODEBOOKS), len(PQ_CODEBOOKS[0]), len(PQ_CODEBOOKS[0][0])

    def sub_sqd(j: int, cent: list[float]) -> str:
        arr = "[" + ", ".join(f"{v!r}" for v in cent) + "]::DOUBLE[]"
        lo = j * pq_d + 1
        return (
            f"list_reduce(list_transform(list_zip(list_slice(v, {lo}, {lo + pq_d - 1}), {arr}), "
            f"s -> (s[1] - s[2]) * (s[1] - s[2])), (a, b) -> a + b)"
        )

    pq_code_exprs = []
    for j in range(pq_m):
        dl = "[" + ", ".join(sub_sqd(j, c) for c in PQ_CODEBOOKS[j]) + "]"
        pq_code_exprs.append(f"CAST(list_position({dl}, list_min({dl})) - 1 AS INT)")
    pq_codes_list = "[" + ", ".join(pq_code_exprs) + "]"
    pq_lut = "[" + ", ".join(
        sub_sqd(j, c) for j in range(pq_m) for c in PQ_CODEBOOKS[j]
    ) + "]"
    seq_m = "[" + ", ".join(str(j) for j in range(pq_m)) + "]"
    pq_sql = (
        "WITH "
        + _SQL_EMB_D
        + f""",
dots AS (SELECT vec_id, v, {', '.join(cent_dots)} FROM n),
assigned AS (SELECT *, {best} AS best FROM dots),
codes AS (SELECT vec_id, CAST({assign} AS INT) AS lst, {pq_codes_list} AS codes FROM assigned),
probes AS (
  SELECT vec_id, lut, CAST(u.idx AS INT) AS lst
  FROM (SELECT vec_id, {pq_lut} AS lut, unnest([{probe_structs}]) AS u FROM dots WHERE vec_id < 10)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY u.dd DESC, u.idx ASC) <= {IVF_NPROBE}
),
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
    list_reduce(list_transform(list_zip({seq_m}, c.codes),
                               s -> q.lut[s[1] * {pq_k} + s[2] + 1]),
                (a, b) -> a + b) AS adc
  FROM probes q JOIN codes c ON q.lst = c.lst WHERE c.vec_id <> q.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc ASC, n_id ASC) AS rank FROM p)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, adc FROM r WHERE rank <= 5
"""
    )
    nd_buckets = ", ".join(
        f"CAST({bucket_sql(planes)} AS INT) AS bk{t}"
        for t, planes in enumerate(NEARDUP_TABLES)
    )
    nd_join = " OR ".join(f"a.bk{t} = b.bk{t}" for t in range(len(NEARDUP_TABLES)))
    lsh_topk_multi_sql = (
        "WITH "
        + _SQL_EMB_D
        + f""",
bk AS (SELECT vec_id, v, nrm, {nd_buckets} FROM n),
cand AS (
  SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
  FROM bk a JOIN bk b ON b.vec_id <> a.vec_id AND ({nd_join})
  WHERE a.vec_id < 10
),
p AS (
  SELECT c.q_id, c.n_id,
    list_reduce(list_transform(list_zip(q.v, d.v), s -> s[1] * s[2]), (x, y) -> x + y)
      / (q.nrm * d.nrm) AS cosine
  FROM cand c JOIN n q ON q.vec_id = c.q_id JOIN n d ON d.vec_id = c.n_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rank FROM p)
SELECT q_id, CAST(rank AS INT) AS rank, n_id, cosine FROM r WHERE rank <= 5
"""
    )
    near_dup_sql = (
        "WITH "
        + _SQL_EMB_D
        + f""",
scaled AS (
  SELECT vec_id + 100000 AS vec_id,
    list_transform(v, x -> CAST(CAST(x AS FLOAT) * CAST(1.5 AS FLOAT) AS DOUBLE)) AS v
  FROM e WHERE vec_id % 10 = 0
),
corpus AS (
  SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM scaled
),
nn AS (
  SELECT vec_id, v,
    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM corpus
),
bk AS (SELECT vec_id, v, nrm, {nd_buckets} FROM nn)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ({nd_join})
WHERE list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]), (x, y) -> x + y)
      / (a.nrm * b.nrm) >= 0.999
"""
    )
    # SemDeDup: the same scaled-copy corpus as near_dup_sql, the same
    # centroid-assign CASE chain as ivf_sql, then a within-cluster
    # lower-id pairwise join — fully independent of the Spark plan's
    # blocked applyInPandas accumulation (which must match bit-for-bit)
    semdedup_sql = (
        "WITH "
        + _SQL_EMB_D
        + f""",
scaled AS (
  SELECT vec_id + 100000 AS vec_id,
    list_transform(v, x -> CAST(CAST(x AS FLOAT) * CAST(1.5 AS FLOAT) AS DOUBLE)) AS v
  FROM e WHERE vec_id % 10 = 0
),
corpus AS (
  SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM scaled
),
nn AS (
  SELECT vec_id, v,
    sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
  FROM corpus
),
dd AS (SELECT vec_id, v, nrm, {', '.join(cent_dots)} FROM nn),
ab AS (SELECT *, {best} AS best FROM dd),
cl AS (SELECT vec_id, v, nrm, CAST({assign} AS INT) AS cluster FROM ab),
p AS (
  SELECT a.vec_id AS vid,
    list_reduce(list_transform(list_zip(a.v, b.v), s -> s[1] * s[2]), (x, y) -> x + y)
      / (a.nrm * b.nrm) AS cosine
  FROM cl a JOIN cl b ON b.cluster = a.cluster AND b.vec_id < a.vec_id
),
agg AS (
  SELECT vid, count(*) FILTER (WHERE cosine >= 0.95) AS n_dups, max(cosine) AS mx
  FROM p GROUP BY vid
)
SELECT c.vec_id, c.cluster,
  CAST(COALESCE(g.n_dups, 0) AS BIGINT) AS n_earlier_dups,
  g.mx AS max_earlier_cos,
  COALESCE(g.n_dups, 0) = 0 AS is_kept
FROM cl c LEFT JOIN agg g ON g.vid = c.vec_id
"""
    )
    # the composed training-data pipeline: every stage reuses the exact SQL
    # shape already proven green for its standalone operator (line_filter,
    # pii, line_dedup, exact/minhash/LSH/jaccard dedup, recursive-CTE CC,
    # quality, lang argmax, nearest-elevation closed form)
    pipeline_e2e_sql = f"""
WITH RECURSIVE
docs0 AS (
  SELECT doc_id AS did,
    'Subscribe to our newsletter today.' || chr(10)
    || 'Doc ' || CAST(doc_id AS VARCHAR)
    || CASE WHEN doc_id % 11 = 0
         THEN ' the u' || CAST(doc_id AS VARCHAR) || ' is v' || CAST(doc_id AS VARCHAR)
              || ' that aa aa aa aa aa aa aa aa aa'
       WHEN doc_id % 7 = 0
         THEN ' el u' || CAST(doc_id AS VARCHAR) || ' es v' || CAST(doc_id AS VARCHAR)
              || ' que w' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 40)
       ELSE ' the u' || CAST(doc_id AS VARCHAR) || ' is v' || CAST(doc_id AS VARCHAR)
              || ' that w' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 40) END
    || CASE WHEN doc_id % 2 = 0
         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || ' ok' || CAST(doc_id AS VARCHAR) || '.' || chr(10) || 'No.' AS text
  FROM documents
),
corpus AS (
  SELECT did * 2 AS cid, text FROM docs0
  UNION ALL
  SELECT did * 2 + 1 AS cid, text FROM docs0 WHERE did % 6 = 0
  UNION ALL
  SELECT did * 2 + 1 AS cid,
    text || ' Extra zz qq note ' || CAST(did AS VARCHAR) || ' ok.' AS text
  FROM docs0 WHERE did % 6 = 3
),
lf AS (
  SELECT cid, array_to_string(
    list_filter(string_split(text, chr(10)),
      x -> regexp_matches(x, '[.!?"]\\r?$')
        AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3),
    chr(10)) AS kept
  FROM corpus
),
red AS (
  SELECT cid,
    CAST(len(regexp_extract_all(kept, '{pii_email}')) AS BIGINT) AS n_emails,
    regexp_replace(regexp_replace(regexp_replace(kept,
      '{pii_email}', '<EMAIL>', 'g'),
      '{pii_ipv4}', '<IP>', 'g'),
      '{pii_phone}', '<PHONE>', 'g') AS text
  FROM lf
),
s AS (SELECT cid, string_split(text, chr(10)) AS ls FROM red),
ln0 AS (SELECT cid, ls, unnest(generate_series(1, len(ls))) AS pos FROM s),
ln AS (SELECT cid, pos, ls[pos] AS line FROM ln0),
cnt AS (SELECT line, count(DISTINCT cid) AS n_docs FROM ln GROUP BY line),
keepl AS (SELECT cid, pos, line FROM ln JOIN cnt USING (line) WHERE n_docs <= 2),
cleaned AS (
  SELECT s.cid, COALESCE(agg.t, '') AS text
  FROM s LEFT JOIN (
    SELECT cid, string_agg(line, chr(10) ORDER BY pos) AS t FROM keepl GROUP BY cid
  ) agg ON s.cid = agg.cid
),
ex AS (SELECT cid, text, cid = min(cid) OVER (PARTITION BY md5(text)) AS is_canon FROM cleaned),
surv1 AS (SELECT cid, text FROM ex WHERE is_canon),
tk AS (SELECT cid, string_split(text, ' ') AS toks FROM surv1),
sh AS (
  SELECT DISTINCT cid, shingle FROM (
    SELECT cid, unnest(list_transform(generate_series(1, array_length(toks) - 1),
                                      i -> toks[i] || ' ' || toks[i + 1])) AS shingle
    FROM tk)
),
{_SQL_SIGS.strip().rstrip()},
bands AS (
  SELECT cid, CAST(mh0 AS VARCHAR) || '|' || CAST(mh1 AS VARCHAR) AS band_key FROM sigs
  UNION ALL
  SELECT cid, CAST(mh2 AS VARCHAR) || '|' || CAST(mh3 AS VARCHAR) AS band_key FROM sigs
),
cand AS (
  SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.cid < b.cid
),
sizes AS (SELECT cid, count(*) AS n_sh FROM sh GROUP BY cid),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM cand p
  JOIN sh sa ON sa.cid = p.id_a
  JOIN sh sb ON sb.cid = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
),
dup AS (
  SELECT p.id_a, p.id_b
  FROM cand p
  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
  JOIN sizes za ON za.cid = p.id_a
  JOIN sizes zb ON zb.cid = p.id_b
  WHERE CAST(COALESCE(i.inter, 0) AS DOUBLE)
        / CAST(za.n_sh + zb.n_sh - COALESCE(i.inter, 0) AS DOUBLE) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM dup UNION SELECT id_b AS a, id_a AS b FROM dup),
reach(src, dst) AS (
  SELECT cid, cid FROM surv1
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS cid, min(dst) AS group_id FROM reach GROUP BY src),
surv2 AS (
  SELECT s1.cid, s1.text FROM surv1 s1
  JOIN comp ON comp.cid = s1.cid AND comp.cid = comp.group_id
),
toks2 AS (SELECT cid, unnest(string_split(text, ' ')) AS tok FROM surv2),
st AS (
  SELECT cid, count(*) AS n_tokens,
    CAST(count(DISTINCT tok) AS DOUBLE) / count(*) AS ttr,
    CAST(sum(length(tok)) AS DOUBLE) / count(*) AS atl,
    sum(CASE WHEN tok IN ('der','die','das','und','ist','nicht','ein','mit') THEN 1 ELSE 0 END) AS s_de,
    sum(CASE WHEN tok IN ('the','and','is','of','to','in','that','it') THEN 1 ELSE 0 END) AS s_en,
    sum(CASE WHEN tok IN ('el','la','los','las','y','es','de','que') THEN 1 ELSE 0 END) AS s_es,
    sum(CASE WHEN tok IN ('le','la','les','et','est','de','que','un') THEN 1 ELSE 0 END) AS s_fr,
    sum(CASE WHEN tok IN ('的','是','不','了','在','人','有','我') THEN 1 ELSE 0 END) AS s_zh
  FROM toks2 GROUP BY cid
),
gq AS (
  SELECT cid, n_tokens,
    (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.5 END) * 0.4
     + LEAST(ttr * 1.25, 1.0) * 0.4 + LEAST(atl / 8.0, 1.0) * 0.2 AS quality,
    GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS best,
    s_de, s_en, s_es, s_fr, s_zh
  FROM st
),
gated AS (
  SELECT cid, n_tokens, quality,
    CASE WHEN s_de = best THEN 'de' WHEN s_en = best THEN 'en'
         WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM gq WHERE quality >= 0.6
),
pts AS (
  SELECT g.cid, r.n_emails, g.n_tokens, g.quality, g.pred_lang,
    35.0 + CAST(g.cid % 2000 AS DOUBLE) / 1000.0 AS lat,
    138.0 + CAST((g.cid * 7) % 2000 AS DOUBLE) / 1000.0 AS lon
  FROM gated g JOIN red r ON r.cid = g.cid
  WHERE g.pred_lang = 'en'
),
keyed AS (
  SELECT *,
    ((CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 138)
     OR (CAST(floor(lat) AS INTEGER) = 35 AND CAST(floor(lon) AS INTEGER) = 139)
     OR (CAST(floor(lat) AS INTEGER) = 36 AND CAST(floor(lon) AS INTEGER) = 138)) AS has_tile
  FROM pts
),
pos2 AS (
  SELECT *, (1.0 - (lat - floor(lat))) * 1200.0 AS rp,
    (lon - floor(lon)) * 1200.0 AS cp
  FROM keyed
),
rc AS (
  SELECT *,
    CAST(floor(rp) AS BIGINT) + (CASE WHEN rp - floor(rp) >= 0.5 THEN 1 ELSE 0 END) AS r,
    CAST(floor(cp) AS BIGINT) + (CASE WHEN cp - floor(cp) >= 0.5 THEN 1 ELSE 0 END) AS c
  FROM pos2
)
SELECT cid, n_emails, n_tokens, quality, pred_lang,
  CASE WHEN has_tile AND ((r * 1201 + c) % 97 <> 0)
       THEN CAST((r + c) % 4000 AS INTEGER) ELSE NULL END AS elevation
FROM rc
"""
    return {
        "dedup_exact": dedup_exact_sql,
        "minhash_signatures": minhash_sql,
        "lsh_dedup_pairs": lsh_sql,
        "incremental_dedup": inc_sql,
        "ngram_jaccard_join": jaccard_join_sql,
        "neardup_groups": groups_sql,
        "simhash": simhash_sql,
        "simhash_near_dup": simhash_near_dup_sql,
        "text_stats": text_stats_sql,
        "pii_redact": pii_sql,
        "line_filter": line_filter_sql,
        "line_dedup": line_dedup_sql,
        "props_stats": props_stats_sql,
        "repetition_stats": repetition_sql,
        "top_terms": top_terms_sql,
        "user_sessions": user_sessions_sql,
        "event_asof_join": event_asof_join_sql,
        "interval_attribution": interval_attribution_sql,
        "phash_near_dup": phash_near_dup_sql,
        "frame_near_dup": frame_near_dup_sql,
        "audio_near_dup": audio_near_dup_sql,
        "funnel_stages": funnel_stages_sql,
        "text_quality": text_quality_sql,
        "lang_id": lang_id_sql,
        "doc_fingerprint": fingerprint_sql,
        "bpe_token_stats": bpe_stats_sql,
        "rolling_fingerprint": rolling_fp_sql,
        "ann_topk": ann_topk_sql,
        "ann_lsh_buckets": lsh_buckets_sql,
        "ann_lsh_topk_multi": lsh_topk_multi_sql,
        "ann_ivf_topk": ivf_sql,
        "ann_pq_topk": pq_sql,
        "embedding_near_dup": near_dup_sql,
        "semdedup": semdedup_sql,
        "pipeline_e2e": pipeline_e2e_sql,
    }


def queries():
    return {
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "lsh_dedup_pairs": q_lsh_dedup_pairs,
        "incremental_dedup": q_incremental_dedup,
        "ngram_jaccard_join": q_ngram_jaccard_join,
        "neardup_groups": q_neardup_groups,
        "simhash": q_simhash,
        "simhash_near_dup": q_simhash_near_dup,
        "text_stats": q_text_stats,
        "pii_redact": q_pii_redact,
        "line_filter": q_line_filter,
        "line_dedup": q_line_dedup,
        "props_stats": q_props_stats,
        "repetition_stats": q_repetition_stats,
        "top_terms": q_top_terms,
        "user_sessions": q_user_sessions,
        "event_asof_join": q_event_asof_join,
        "interval_attribution": q_interval_attribution,
        "phash_near_dup": q_phash_near_dup,
        "frame_near_dup": q_frame_near_dup,
        "audio_near_dup": q_audio_near_dup,
        "funnel_stages": q_funnel_stages,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "bpe_token_stats": q_bpe_token_stats,
        "rolling_fingerprint": q_rolling_fingerprint,
        "ann_topk": q_ann_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_lsh_topk_multi": q_ann_lsh_topk_multi,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "semdedup": q_semdedup,
        "pipeline_e2e": q_pipeline_e2e,
    }

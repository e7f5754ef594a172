"""Training-data operator family: dedup, similarity search, text
analysis, multimodal plumbing — over the `documents` and `embeddings`
tables. These are first-class engine operators (see
nerd_spark/operators/{dedup,similarity,multimodal}.py); each query
here exercises one with a full DuckDB oracle where expressible.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nerd_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS_RE,
    bpe_ish_token_count,
    quality_features,
    token_count,
)
from nerd_spark.operators import components as CCOMP
from nerd_spark.operators import contamination as CONTAM
from nerd_spark.operators import dedup as DD
from nerd_spark.operators import keywords as KW
from nerd_spark.ml import quality as QM
from nerd_spark.operators import multimodal as MM
from nerd_spark.operators import sampling as SAMP
from nerd_spark.operators import similarity as SIM
from nerd_spark.queries.base import query, t
from nerd_spark.queries.golden import golden_oracle


def _assert_recall_floor(emb, approx, floor: float, k: int = 10):
    """Hard in-path recall floor for the trained ANN queries: compute
    recall@k of `approx` against the exact brute-force top-k on the
    same corpus/queries and raise if it drops below `floor`. Runs
    eagerly when the query is built (both sides are Q*k tiny), so a
    silently-degraded trained index fails loudly in the driver's
    correctness run instead of sliding past a rows-only check. The
    committed goldens (queries/golden.py) pin replay determinism;
    this pins semantics."""
    exact = SIM.brute_force_topk(emb, F.col("vec_id") < 10, k=k)
    r = SIM.recall_at_k(approx, exact)
    if r < floor:
        raise AssertionError(
            f"ANN recall@{k} {r:.3f} below pinned floor {floor}"
        )
    return approx

# Shared DuckDB fragments ---------------------------------------------------

# Whitespace tokens + distinct 3-word shingles per doc. Must stay in
# lockstep with functions.text.tokens / word_shingles.
_SH = r"""
  toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
  ),
  sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(w) - 2, 0)),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
    FROM toks
  ),
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
"""

_JACCARD_VERIFY = """
  sets AS (SELECT doc_id, list(s) AS ss, count(*) AS n FROM sh GROUP BY 1),
  jac AS (
    SELECT c.a_id, c.b_id,
           round(len(list_intersect(sa.ss, sb.ss)) * 1.0
                 / (sa.n + sb.n - len(list_intersect(sa.ss, sb.ss))), 6) AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.a_id
    JOIN sets sb ON sb.doc_id = c.b_id
  )
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           count(*) AS n_docs, min(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.exact_dedup(docs)


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SH},
    dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
    rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq USING (s) WHERE dfq.df <= 20),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM rare x JOIN rare y ON x.s = y.s AND x.doc_id < y.doc_id
    ),
    {_JACCARD_VERIFY}
    SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.jaccard_dedup(docs, threshold=0.8, max_df=20)


@query(
    "dedup_containment",
    f"""
    WITH {_SH},
    dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
    rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq USING (s) WHERE dfq.df <= 20),
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM rare x JOIN rare y ON x.s = y.s AND x.doc_id < y.doc_id
    ),
    sets AS (SELECT doc_id, list(s) AS ss, count(*) AS n FROM sh GROUP BY 1),
    con AS (
      SELECT c.a_id, c.b_id,
             round(len(list_intersect(sa.ss, sb.ss)) * 1.0
                   / least(sa.n, sb.n), 6) AS containment
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.a_id
      JOIN sets sb ON sb.doc_id = c.b_id
    )
    SELECT a_id, b_id, containment FROM con WHERE containment >= 0.9
    """,
)
def dedup_containment(spark, sf_dir):
    # Asymmetric containment dedup (operators/dedup.py::
    # containment_dedup): |A∩B| / min(|A|,|B|) catches subset copies
    # (snippet-in-article, boilerplate-wrapped reposts) that
    # symmetric Jaccard structurally misses at any threshold. Same
    # candidate generation and scale shape as the Jaccard verify.
    docs = t(spark, sf_dir, "documents")
    return DD.containment_dedup(docs, threshold=0.9, max_df=20)


# 8-hex-digit parse (1-based start) — the oracle's mirror of Spark's
# conv(substring(md5(s), start, 8), 16, 10)
def _hex8(col: str, start: int) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {start + p}, 1)) - 1)"
        f" * {16 ** (7 - p)}"
        for p in range(8)
    )


# Banded MinHash signature table: shingle -> 12 min-hashes
# (Carter-Wegman family over two md5-derived 32-bit words) -> 4 band
# signatures, exploded long. Shared by the self-join pair query, the
# cluster-resolution oracle, and the incremental (batch-vs-corpus)
# variant.
_MINHASH_BANDS = f"""
    {_SH},
    shm AS (SELECT doc_id, md5(s) AS m FROM sh),
    sh2 AS (
      SELECT doc_id, {_hex8('m', 1)} AS h1, {_hex8('m', 9)} AS h2 FROM shm
    ),
    mh AS (
      SELECT doc_id,
             {", ".join(f"min((h1 + {i} * h2) % 4294967296) AS h{i}" for i in range(12))}
      FROM sh2 GROUP BY 1
    ),
    bsig AS (
      SELECT doc_id,
             {", ".join(f"md5(concat_ws('|', h{b * 3}, h{b * 3 + 1}, h{b * 3 + 2})) AS sig{b}" for b in range(4))}
      FROM mh
    ),
    blong AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS b, sig{b} AS h FROM bsig" for b in range(4))}
    )
"""

_MINHASH_PAIRS = f"""
    WITH {_MINHASH_BANDS},
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM blong x JOIN blong y ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
    ),
    {_JACCARD_VERIFY}
    SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.5
    """


@query("dedup_minhash_lsh", _MINHASH_PAIRS)
def dedup_minhash_lsh(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.minhash_lsh_dedup(spark, docs, n_bands=4, rows_per_band=3, threshold=0.5)


# Transitive closure of the pair-path graph via recursive CTE —
# viable at oracle scale only. Shared by dedup_clusters AND
# dedup_clusters_scalable: the star-edge generator's components must
# equal the pair path's (its acceptance contract), so both oracle
# against the same closure.
_CLUSTERS_SQL = f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM edges
      UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node
    ),
    cc AS (SELECT node, min(r) AS root FROM reach GROUP BY node)
    SELECT node AS doc_id, root AS cluster_root,
           count(*) OVER (PARTITION BY root) AS cluster_size
    FROM cc
    """


@query("dedup_clusters", _CLUSTERS_SQL)
def dedup_clusters(spark, sf_dir):
    # Pair list -> duplicate clusters (transitive closure): alternating
    # large-star/small-star connected components over the Jaccard-
    # verified minhash pairs; cluster_root (component min) is the
    # canonical survivor. Oracle closes the same graph with a
    # recursive CTE — viable at oracle scale only; the star algorithm
    # is the 100 TB path (operators/components.py).
    docs = t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(spark, docs, n_bands=4, rows_per_band=3, threshold=0.5)
    return CCOMP.dedup_clusters(pairs)


@query("dedup_clusters_scalable", _CLUSTERS_SQL)
def dedup_clusters_scalable(spark, sf_dir):
    # The 100 TB cluster path (r9 verdict #1): per LSH band bucket,
    # only (member -> bucket-min) STAR edges are generated and
    # Jaccard-verified — linear in clique depth where the pair path's
    # candidate OUTPUT is quadratic (32-deep replica cliques at the
    # 320x stress point) — then the same connected-components
    # resolution. Oracled against the SAME pair-path closure: the
    # operator's contract is connectivity equality
    # (operators/dedup.py::minhash_cluster_edges documents the
    # transitivity condition; the residue fallback covers mixed
    # buckets). dedup_minhash_lsh keeps the exact-pair contract.
    docs = t(spark, sf_dir, "documents")
    edges = DD.minhash_cluster_edges(
        spark, docs, n_bands=4, rows_per_band=3, threshold=0.5
    )
    return CCOMP.dedup_clusters(edges)


_CONTAM_N = 8
_CONTAM_GRAM = " || ' ' || ".join(f"w[i+{j}]" for j in range(_CONTAM_N))


@query(
    "contamination_check",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ),
    ng AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(w) - {_CONTAM_N - 1}, 0)),
        i -> {_CONTAM_GRAM}))) AS g
      FROM toks
    ),
    ev AS (SELECT doc_id, g FROM ng WHERE doc_id % 19 = 3),
    tr AS (SELECT doc_id, g FROM ng WHERE doc_id % 19 <> 3),
    ev_sizes AS (SELECT doc_id, count(*) AS eval_ngrams FROM ev GROUP BY 1),
    hits AS (
      SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
             count(*) AS shared_ngrams
      FROM tr JOIN ev USING (g) GROUP BY 1, 2
    )
    SELECT train_id, eval_id, shared_ngrams, eval_ngrams,
           round(shared_ngrams * 1.0 / eval_ngrams, 6) AS eval_frac
    FROM hits JOIN ev_sizes ON ev_sizes.doc_id = hits.eval_id
    """,
)
def contamination_check(spark, sf_dir):
    # Decontamination sweep: verbatim 8-gram overlap between the
    # corpus and a deterministic held-out eval slice (doc_id % 19 = 3
    # stands in for the benchmark suite). Eval n-gram set broadcast;
    # corpus side is map-only (operators/contamination.py).
    docs = t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 19 == 3)
    tr = docs.filter(F.col("doc_id") % 19 != 3)
    return CONTAM.ngram_contamination(tr, ev, n=_CONTAM_N)


_SPLIT_FRAC = 0.1
_SPLIT_CUT = int(_SPLIT_FRAC * (1 << 32))


@query(
    "train_val_split",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             {_hex8("md5(CAST(doc_id AS VARCHAR))", 1)} AS v
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM h
    )
    SELECT doc_id, lang,
           CASE WHEN v < {_SPLIT_CUT} THEN 'val' ELSE 'train' END AS split_hash,
           CASE WHEN rk <= floor({_SPLIT_FRAC} * n) THEN 'val' ELSE 'train'
           END AS split_exact
    FROM r
    """,
)
def train_val_split(spark, sf_dir):
    # Both split shapes side by side: the map-only md5-threshold
    # assignment (scale path — no shuffle) and the exact per-language
    # quota via stratum ranking (operators/sampling.py).
    docs = t(spark, sf_dir, "documents")
    hashed = SAMP.hash_split(docs, val_frac=_SPLIT_FRAC).withColumnRenamed(
        "split", "split_hash"
    )
    exact = SAMP.stratified_split(docs, "lang", val_frac=_SPLIT_FRAC).select(
        "doc_id", F.col("split").alias("split_exact")
    )
    return hashed.select("doc_id", "lang", "split_hash").join(exact, "doc_id")


_PACK_BUDGET = 512


@query(
    "sequence_packing",
    f"""
    WITH RECURSIVE docs2 AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack(source, rn, doc_id, n_tokens, bin, fill) AS (
        SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
        FROM docs2 WHERE rn = 1
      UNION ALL
        SELECT d.source, d.rn, d.doc_id, d.n_tokens,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.bin ELSE p.bin + 1 END,
               CASE WHEN p.fill + d.n_tokens <= {_PACK_BUDGET}
                    THEN p.fill + d.n_tokens ELSE d.n_tokens END
        FROM docs2 d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1
    )
    SELECT doc_id, source, n_tokens, bin AS bin_idx FROM pack
    """,
)
def sequence_packing(spark, sf_dir):
    # Greedy 512-token bin packing per source group via a thin
    # applyInPandas seam (ints only — the text never reaches Python);
    # the oracle replays the same greedy walk with a recursive CTE,
    # viable at oracle scale only.
    docs = t(spark, sf_dir, "documents")
    return SAMP.pack_sequences(docs, budget=_PACK_BUDGET, group_col="source")


# Per-source mixture rates exercised by the query + oracle: down- and
# up-sampling plus a fractional rate, everything else at 1.0.
_MIX_RATES = {"src0": 2.0, "src1": 0.5, "src2": 0.25, "src3": 1.5}
_MIX_CASE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {r}" for s, r in _MIX_RATES.items())
    + " ELSE 1.0 END"
)


@query(
    "mixture_sample",
    f"""
    WITH h AS (
      SELECT doc_id, source,
             {_hex8("md5('mix' || CAST(doc_id AS VARCHAR))", 1)} AS v
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, {_MIX_CASE} AS rate, v / 4294967296.0 AS u
      FROM h
    ),
    n AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS BIGINT)
               + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n_copies
      FROM r
    )
    SELECT doc_id, source, unnest(generate_series(0, n_copies - 1)) AS epoch
    FROM n
    """,
)
def mixture_sample(spark, sf_dir):
    # Domain-weighted mixture resampling (operators/sampling.py):
    # map-only deterministic per-source down/up-sampling — the data-
    # curation step that turns raw domain proportions into a training
    # mixture. Rates < 1 drop docs by id-hash; rates > 1 emit epoch
    # copies (fractional part hash-sampled).
    docs = t(spark, sf_dir, "documents")
    return SAMP.mixture_sample(docs, rates=_MIX_RATES, salt="mix")


@query(
    "mixture_temperature",
    f"""
    WITH cnt AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
    tot AS (SELECT sum(n_src) AS n_tot FROM cnt),
    w AS (
      SELECT source, n_src, n_tot,
             round((n_src * 1.0 / n_tot) * (n_src * 1.0 / n_tot), 6) AS wt
      FROM cnt, tot
    ),
    sw AS (SELECT round(sum(wt), 6) AS swt FROM w),
    rates AS (
      SELECT source, round(wt / swt * n_tot / n_src, 6) AS rate FROM w, sw
    ),
    h AS (
      SELECT doc_id, d.source, rate,
             {_hex8("md5('temp' || CAST(doc_id AS VARCHAR))", 1)} / 4294967296.0 AS u
      FROM documents d JOIN rates USING (source)
    ),
    n AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS BIGINT)
               + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n_copies
      FROM h
    )
    SELECT doc_id, source, unnest(generate_series(0, n_copies - 1)) AS epoch
    FROM n
    """,
)
def mixture_temperature(spark, sf_dir):
    # Temperature-balanced mixture (operators/sampling.py::
    # temperature_mixture): q_s proportional to p_s^(1/T) with T=0.5 —
    # the per-source rates derive from the data inside the plan (two
    # tiny broadcast aggregations), then the same deterministic
    # hash-replication as mixture_sample.
    return SAMP.temperature_mixture(t(spark, sf_dir, "documents"))


@query("mixture_temperature_free", golden_oracle("mixture_temperature_free"))
# pow(p, 1/T) is float-library-dependent at the last ulp, so no
# closed-form hash oracle (the T=0.5 query above stays hash-exact);
# the oracle is the committed pinned-seed golden (queries/golden.py).
def mixture_temperature_free(spark, sf_dir):
    # The general-temperature path (operators/sampling.py::
    # temperature_mixture with T != 0.5): arbitrary T>0 via
    # pow(p, 1/T), same in-plan rate derivation and deterministic
    # hash-replication. T=2.0 here — exponent 1/2, the classic
    # sqrt flattening that upweights rare sources (the
    # multilingual-balancing direction the T=0.5 default cannot
    # express).
    return SAMP.temperature_mixture(
        t(spark, sf_dir, "documents"), temperature=2.0
    )


@query(
    "shard_assign",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_hex8("md5('shard' || CAST(doc_id AS VARCHAR))", 1)} AS v
      FROM documents
    )
    SELECT doc_id, v % 8 AS shard,
           row_number() OVER (PARTITION BY v % 8 ORDER BY v, doc_id) - 1 AS pos
    FROM h
    """,
)
def shard_assign(spark, sf_dir):
    # Deterministic global shuffle -> training shards
    # (operators/sampling.py): shard by id-hash (map-only), position
    # by per-shard hash rank. Replays one fixed permutation of the
    # corpus on any rerun.
    docs = t(spark, sf_dir, "documents")
    return SAMP.shard_assign(docs, n_shards=8, salt="shard")


@query(
    "tfidf_top_terms",
    """
    WITH toks0 AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    toks AS (SELECT * FROM toks0 WHERE term != ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf,
             round(tf * ln(n_docs * 1.0 / df), 6) AS score
      FROM tf JOIN dfq USING (term) CROSS JOIN nd
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    # Per-doc top-3 keywords by TF-IDF (operators/keywords.py): one
    # corpus shuffle for term frequencies, broadcast vocabulary join,
    # WindowGroupLimit top-k.
    docs = t(spark, sf_dir, "documents")
    return KW.tfidf_top_terms(docs, k=3)


# Shared by hh_event_users (raw/serve-gated) and hh_users_served
# (in-query fold+serve) — one oracle text.
_HH_USERS_SQL = """
    WITH src AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    tot AS (SELECT count(*) AS n FROM src),
    c AS (SELECT user_id, count(*) AS cnt FROM src GROUP BY 1)
    SELECT user_id, cnt,
           round(cnt / (SELECT n FROM tot), 6) AS share
    FROM c WHERE cnt >= 0.005 * (SELECT n FROM tot)
    """


@query("hh_event_users", _HH_USERS_SQL)
def hh_event_users(spark, sf_dir):
    # Exact heavy hitters (top talkers) WITHOUT a full-cardinality
    # shuffle: batch-local candidate screen (guaranteed superset by
    # the averaging argument) + exact verify over candidates only —
    # operators/sketches.py. The security-native use is scanner IPs
    # hitting every sensor; the oracle is the naive full groupBy.
    #
    # Serve tiers (the funnel discipline): the meta-bound resolved
    # answer first (a |hh|-row file read), then the ingest-maintained
    # per-entity count table (sources/layout.py::
    # update_keycount_summaries) — counts are additive, so the fold is
    # exact and the query is one O(keys) scan; raw dirs (every oracle)
    # recompute from events.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        HH_USERS_MIN_FRAC,
        SUMMARY_HH_USERS_RESULT_DIRNAME,
        serve_table,
    )

    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_HH_USERS_RESULT_DIRNAME,
        {"entity": "user_id", "min_frac": HH_USERS_MIN_FRAC},
        ("user_id", "cnt", "share"),
    )
    if res is not None:
        return res.select("user_id", "cnt", "share")
    cnts = _user_counts(spark, sf_dir)
    if cnts is not None:
        return SK.heavy_hitters_from_counts(
            cnts.withColumnRenamed("u", "user_id"),
            "user_id",
            HH_USERS_MIN_FRAC,
        )
    ev = t(spark, sf_dir, "events")
    return SK.heavy_hitters(ev, "user_id", min_frac=HH_USERS_MIN_FRAC)


@query(
    "hh_users_min_count",
    """
    WITH src AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    tot AS (SELECT count(*) AS n FROM src),
    c AS (SELECT user_id, count(*) AS cnt FROM src GROUP BY 1)
    SELECT user_id, cnt,
           round(cnt / (SELECT n FROM tot), 6) AS share
    FROM c WHERE cnt >= 50
    """,
)
def hh_users_min_count(spark, sf_dir):
    # Absolute-count heavy keys — "users with >= 50 events" (the
    # reference's per-entity event-count trigger shape, and the
    # SCALE-STABLE companion to hh_event_users: a fractional
    # threshold goes empty once the corpus outgrows any single key's
    # bounded event rate, so above sf0.01 its serve measurements time
    # empty answers; this binding stays non-empty and selective at
    # every SF). Serve tiers: the meta-bound resolved answer, then
    # the ingest-maintained per-entity count table, then one plain
    # map-side-combined count over raw events.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        HH_USERS_MIN_COUNT,
        SUMMARY_HH_MINCOUNT_RESULT_DIRNAME,
        serve_table,
    )

    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_HH_MINCOUNT_RESULT_DIRNAME,
        {"entity": "user_id", "min_count": HH_USERS_MIN_COUNT},
        ("user_id", "cnt", "share"),
    )
    if res is not None:
        return res.select("user_id", "cnt", "share")
    cnts = _user_counts(spark, sf_dir)
    if cnts is not None:
        return SK.heavy_keys_min_count_from_counts(
            cnts.withColumnRenamed("u", "user_id"),
            "user_id",
            HH_USERS_MIN_COUNT,
        )
    ev = t(spark, sf_dir, "events")
    return SK.heavy_keys_min_count(ev, "user_id", HH_USERS_MIN_COUNT)


@query(
    "hh_by_type_min_count",
    """
    WITH src AS (
      SELECT event_type, user_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    tot AS (SELECT event_type, count(*) AS n FROM src GROUP BY 1),
    c AS (SELECT event_type, user_id, count(*) AS cnt FROM src GROUP BY 1, 2)
    SELECT c.event_type, c.user_id, c.cnt,
           round(c.cnt / t.n, 6) AS share
    FROM c JOIN tot t ON c.event_type = t.event_type
    WHERE c.cnt >= 15
    """,
)
def hh_by_type_min_count(spark, sf_dir):
    # Per-group absolute-count heavy keys — "(type, user) pairs with
    # >= 15 events" (see hh_users_min_count for why the absolute
    # binding is the scale-stable one). Serve tiers: resolved answer,
    # then the (type, entity) count table, then one pair count.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        HH_BY_TYPE_MIN_COUNT,
        SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME,
        serve_table,
    )

    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_HH_BY_MINCOUNT_RESULT_DIRNAME,
        {
            "group": "event_type",
            "entity": "user_id",
            "min_count": HH_BY_TYPE_MIN_COUNT,
        },
        ("event_type", "user_id", "cnt", "share"),
    )
    if res is not None:
        return res.select("event_type", "user_id", "cnt", "share")
    cnts = _type_user_counts(spark, sf_dir)
    if cnts is not None:
        return SK.heavy_keys_min_count_by_from_counts(
            cnts.withColumnRenamed("et", "event_type").withColumnRenamed(
                "u", "user_id"
            ),
            "event_type",
            "user_id",
            HH_BY_TYPE_MIN_COUNT,
        )
    ev = t(spark, sf_dir, "events")
    return SK.heavy_keys_min_count_by(
        ev, "event_type", "user_id", HH_BY_TYPE_MIN_COUNT
    )


@query("hh_users_served", _HH_USERS_SQL)
def hh_users_served(spark, sf_dir):
    # Serve-tier certification of the KEYCOUNT fold under the
    # driver's hash gate (r12 verdict #2 — the funnel_stages_served
    # recipe applied to the additive count algebra): fold two batches
    # with distinct batch_ids through update_keycount_summaries into
    # a scratch dir inside the query body, then answer from the
    # hh RESULT CACHE it maintains — certifying the pair-table fold,
    # the totals re-derivation, AND the threshold resolution against
    # hh_event_users' oracle. localCheckpointed before the scratch
    # dir is removed.
    import os
    import shutil
    import tempfile

    from nerd_spark.sources.layout import (
        SUMMARY_HH_USERS_RESULT_DIRNAME,
        update_keycount_summaries,
    )

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_keycount_served_")
    try:
        update_keycount_summaries(
            spark, d, ev.filter(F.col("event_id") % 2 == 0), batch_id="a"
        )
        update_keycount_summaries(
            spark, d, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        res = spark.read.parquet(
            os.path.join(d, SUMMARY_HH_USERS_RESULT_DIRNAME)
        )
        return res.select("user_id", "cnt", "share").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _user_counts(spark, sf_dir):
    from nerd_spark.sources import layout as L

    return L.serve_table(
        spark, sf_dir, L.SUMMARY_USER_COUNTS_DIRNAME, {}, ("u", "cnt")
    )


def _type_user_counts(spark, sf_dir):
    from nerd_spark.sources import layout as L

    return L.serve_table(
        spark, sf_dir, L.SUMMARY_TYPE_USER_DIRNAME, {}, ("et", "u", "cnt")
    )


def _value_counts(spark, sf_dir):
    from nerd_spark.sources import layout as L

    return L.serve_table(
        spark, sf_dir, L.SUMMARY_VALUE_COUNTS_DIRNAME, {}, ("v", "cnt")
    )


def _value_hist(spark, sf_dir):
    from nerd_spark.sources import layout as L

    return L.serve_table(
        spark, sf_dir, L.SUMMARY_VALUE_HIST_DIRNAME, {}, ("et", "v", "cnt")
    )


@query(
    "hh_terms",
    r"""
    WITH src AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n FROM src),
    c AS (SELECT term, count(*) AS cnt FROM src GROUP BY 1)
    SELECT term, cnt,
           round(cnt / (SELECT n FROM tot), 6) AS share
    FROM c WHERE cnt >= 0.01 * (SELECT n FROM tot)
    """,
)
def hh_terms(spark, sf_dir):
    # Heavy-hitter TERMS: the shared whitespace tokenization exploded
    # JVM-side, then the same screen+verify (operators/sketches.py) —
    # the full term universe never enters an exchange.
    from nerd_spark.operators import sketches as SK

    docs = t(spark, sf_dir, "documents")
    return SK.heavy_hitter_terms(docs, min_frac=0.01)


@query(
    "hh_by_event_type",
    """
    WITH src AS (
      SELECT event_type, user_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    tot AS (SELECT event_type, count(*) AS n FROM src GROUP BY 1),
    c AS (SELECT event_type, user_id, count(*) AS cnt FROM src GROUP BY 1, 2)
    SELECT c.event_type, c.user_id, c.cnt,
           round(c.cnt / t.n, 6) AS share
    FROM c JOIN tot t ON c.event_type = t.event_type
    WHERE c.cnt >= 0.008 * t.n
    """,
)
def hh_by_event_type(spark, sf_dir):
    # Per-group heavy hitters (per-day top talkers / per-sensor
    # dominant sources): the screen+verify discipline with the
    # averaging argument applied within each group
    # (operators/sketches.py::heavy_hitters_by). Serve path: the
    # ingest-maintained (type, entity) count table — already at the
    # aggregation's grain, so the query is an O(pairs) scan + the
    # per-group totals join.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        HH_BY_TYPE_MIN_FRAC,
        SUMMARY_HH_BY_TYPE_RESULT_DIRNAME,
        serve_table,
    )

    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_HH_BY_TYPE_RESULT_DIRNAME,
        {
            "group": "event_type",
            "entity": "user_id",
            "min_frac": HH_BY_TYPE_MIN_FRAC,
        },
        ("event_type", "user_id", "cnt", "share"),
    )
    if res is not None:
        return res.select("event_type", "user_id", "cnt", "share")
    cnts = _type_user_counts(spark, sf_dir)
    if cnts is not None:
        return SK.heavy_hitters_by_from_counts(
            cnts.withColumnRenamed("et", "event_type").withColumnRenamed(
                "u", "user_id"
            ),
            "event_type",
            "user_id",
            HH_BY_TYPE_MIN_FRAC,
        )
    ev = t(spark, sf_dir, "events")
    return SK.heavy_hitters_by(
        ev, "event_type", "user_id", HH_BY_TYPE_MIN_FRAC
    )


@query(
    "top_frequent_users",
    """
    WITH src AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    tot AS (SELECT count(*) AS n FROM src),
    c AS (SELECT user_id, count(*) AS cnt FROM src GROUP BY 1),
    r AS (
      SELECT user_id, cnt,
             round(cnt / (SELECT n FROM tot), 6) AS share,
             row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
      FROM c
    )
    SELECT user_id, cnt, share, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def top_frequent_users(spark, sf_dir):
    # EXACT top-k most frequent keys by iterated heavy hitters
    # (operators/sketches.py::top_frequent): once >= k keys clear the
    # threshold, the global top-k is exactly their best k; the
    # threshold halves until that holds. The oracle is the naive full
    # groupBy + global rank. Serve path: the ingest-maintained
    # per-entity count table — one O(keys) scan +
    # TakeOrderedAndProject, no corpus pass, no screen.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        HH_USERS_MIN_FRAC,
        SUMMARY_TOPFREQ_RESULT_DIRNAME,
        TOPFREQ_K,
        serve_table,
    )

    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_TOPFREQ_RESULT_DIRNAME,
        {"entity": "user_id", "k": TOPFREQ_K},
        ("user_id", "cnt", "share", "rank"),
    )
    if res is not None:
        return res.select("user_id", "cnt", "share", "rank")
    cnts = _user_counts(spark, sf_dir)
    if cnts is not None:
        return SK.top_frequent_from_counts(
            cnts.withColumnRenamed("u", "user_id"), "user_id", k=TOPFREQ_K
        )
    ev = t(spark, sf_dir, "events")
    return SK.top_frequent(
        ev, "user_id", k=TOPFREQ_K, initial_frac=HH_USERS_MIN_FRAC
    )


# Shared by quantile_event_values (raw/serve-gated) and
# quantile_values_served (in-query fold+serve): one oracle text.
_QUANTILE_VALUES_SQL = """
    WITH v AS (SELECT value FROM events WHERE value IS NOT NULL)
    SELECT CAST(0.25 AS DOUBLE) AS p, quantile_disc(value, 0.25) AS value FROM v
    UNION ALL SELECT CAST(0.5 AS DOUBLE), quantile_disc(value, 0.5) FROM v
    UNION ALL SELECT CAST(0.9 AS DOUBLE), quantile_disc(value, 0.9) FROM v
    UNION ALL SELECT CAST(0.99 AS DOUBLE), quantile_disc(value, 0.99) FROM v
    """


@query("quantile_event_values", _QUANTILE_VALUES_SQL)
def quantile_event_values(spark, sf_dir):
    # Exact order-statistic quantiles (operators/sketches.py::
    # exact_quantiles): a measured cardinality probe picks the value-
    # histogram path (one pass; quantiles = cumulative-sum lookups on
    # the distinct-value frame) for bounded domains, else GK bracket-
    # and-refine with an iteratively-narrowed pick — never a global
    # sort either way. The result is an actual data element
    # (quantile_disc semantics), so the compare is exact.
    #
    # Serve tiers (the funnel discipline — result cache, then state,
    # then raw): ingest maintains (a) a |probs|-row resolved result
    # cache meta-bound to this binding (a file read) and (b) the
    # global (value, cnt) projection of the (event_type, value)
    # histogram — quantiles from it are one cumulative-sum lookup
    # over distinct values, exact for ANY probs. served==raw pinned
    # by tests/test_quantile_serve.py; oracles stay on raw.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        QUANTILE_PROBS_DEFAULT,
        SUMMARY_QUANTILE_RESULT_DIRNAME,
        serve_table,
    )

    probs = list(QUANTILE_PROBS_DEFAULT)
    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_QUANTILE_RESULT_DIRNAME,
        {"probs": probs},
        ("p", "value"),
    )
    if res is not None:
        return res.select("p", "value")
    vc = _value_counts(spark, sf_dir)
    if vc is not None:
        return SK.quantiles_from_counts(vc, probs)
    ev = t(spark, sf_dir, "events")
    return SK.exact_quantiles(ev, "value", probs)


@query("quantile_values_served", _QUANTILE_VALUES_SQL)
def quantile_values_served(spark, sf_dir):
    # Serve-tier certification under the DRIVER's hash gate (r11
    # verdict #3, applied to the new quantile serve): seed + fold the
    # (event_type, value) histogram into a scratch dir inside the
    # query body — exercising update_value_hist_summary's additive
    # merge — and answer from the global value-counts projection,
    # sharing quantile_event_values' oracle text.
    import os
    import shutil
    import tempfile

    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        SUMMARY_VALUE_COUNTS_DIRNAME,
        seed_value_hist,
        update_value_hist_summary,
    )

    ev = t(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="nerd_vh_served_")
    try:
        seed_value_hist(spark, d, ev.filter(F.col("event_id") % 2 == 0))
        update_value_hist_summary(
            spark, d, ev.filter(F.col("event_id") % 2 == 1), batch_id="b"
        )
        vc = spark.read.parquet(
            os.path.join(d, SUMMARY_VALUE_COUNTS_DIRNAME)
        )
        return SK.quantiles_from_counts(
            vc, [0.25, 0.5, 0.9, 0.99]
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "quantile_by_event_type",
    """
    WITH v AS (SELECT event_type, value FROM events WHERE value IS NOT NULL)
    SELECT event_type, CAST(0.5 AS DOUBLE) AS p,
           quantile_disc(value, 0.5) AS value FROM v GROUP BY 1
    UNION ALL
    SELECT event_type, CAST(0.95 AS DOUBLE),
           quantile_disc(value, 0.95) FROM v GROUP BY 1
    """,
)
def quantile_by_event_type(spark, sf_dir):
    # Per-group exact quantiles (operators/sketches.py::
    # exact_quantiles_by): probe-chosen strategy — per-group value
    # histogram (one pass, in-plan cumulative-sum lookups) for bounded
    # value domains, else the fully in-plan GK bracket path (sketch
    # shuffle + conditional-agg verify + window refine over bracket
    # rows only). Never a per-group sort of the data.
    #
    # Serve tiers (the funnel discipline): the meta-bound resolved
    # result cache first (a |groups|x|probs|-row file read), then the
    # ingest-maintained (event_type, value) histogram
    # (sources/layout.py::update_value_hist_summary) — a cumulative-
    # sum lookup over distinct (type, value) pairs, exact for ANY
    # probs — then the raw exact operator.
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        QUANTILE_BY_PROBS_DEFAULT,
        SUMMARY_QUANTILE_BY_RESULT_DIRNAME,
        serve_table,
    )

    probs = list(QUANTILE_BY_PROBS_DEFAULT)
    res = serve_table(
        spark,
        sf_dir,
        SUMMARY_QUANTILE_BY_RESULT_DIRNAME,
        {"probs": probs},
        ("event_type", "p", "value"),
    )
    if res is not None:
        return res.select("event_type", "p", "value")
    vh = _value_hist(spark, sf_dir)
    if vh is not None:
        return SK.quantiles_by_from_counts(vh, "event_type", probs)
    ev = t(spark, sf_dir, "events")
    return SK.exact_quantiles_by(ev, "event_type", "value", probs)


@query(
    "corpus_stats_card",
    r"""
    WITH c AS (
      SELECT source,
             len(string_split_regex(trim(text), '\s+')) AS ntok
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS total_tokens,
           CAST(quantile_disc(ntok, 0.5) AS BIGINT) AS p50_tokens,
           CAST(quantile_disc(ntok, 0.95) AS BIGINT) AS p95_tokens
    FROM c GROUP BY 1
    """,
)
def corpus_stats_card(spark, sf_dir):
    # The dataset-card report a curation run opens with: per-source
    # volumes plus EXACT token-length quantiles — the sketch family
    # composed over a derived column (token counts from the shared
    # tokenization; a bounded integer domain, so the probe lands on
    # the histogram path), never a sort of the corpus.
    from nerd_spark.functions.text import tokens
    from nerd_spark.operators import sketches as SK
    from nerd_spark.sources.layout import (
        DOC_CARD_PROBS,
        SUMMARY_DOC_CARD_RESULT_DIRNAME,
        SUMMARY_DOC_TOKEN_HIST_DIRNAME,
        serve_table,
    )

    # Serve tiers: the |sources|-row resolved card first (meta-bound
    # to the prob list — a file read), then the layout-built
    # per-(source, token-count) histogram — volumes AND exact
    # quantiles derive from it, so a fresh layout dir answers the
    # card without a corpus scan. Both gated on documents freshness
    # + schema.
    card_cols = (
        "source", "n_docs", "total_tokens", "p50_tokens", "p95_tokens",
    )
    card = serve_table(
        spark,
        sf_dir,
        SUMMARY_DOC_CARD_RESULT_DIRNAME,
        {"probs": list(DOC_CARD_PROBS)},
        card_cols,
        sources=("documents.parquet",),
    )
    if card is not None:
        return card.select(*card_cols)
    h = serve_table(
        spark,
        sf_dir,
        SUMMARY_DOC_TOKEN_HIST_DIRNAME,
        expect_cols=("src", "ntok", "cnt"),
        sources=("documents.parquet",),
    )
    if h is not None:
        vols = h.groupBy(F.col("src").alias("source")).agg(
            F.sum("cnt").alias("n_docs"),
            F.sum(F.col("ntok") * F.col("cnt")).alias("total_tokens"),
        )
        q = SK.quantiles_by_from_counts(
            h.select(
                F.col("src").alias("et"), F.col("ntok").alias("v"), "cnt"
            ),
            "source",
            [0.5, 0.95],
        )
        wide = q.groupBy("source").agg(
            F.max(F.when(F.col("p") == 0.5, F.col("value"))).alias(
                "p50_tokens"
            ),
            F.max(F.when(F.col("p") == 0.95, F.col("value"))).alias(
                "p95_tokens"
            ),
        )
        return vols.join(wide, "source")

    docs = t(spark, sf_dir, "documents")
    # layout dirs carry the ingest-materialized per-doc token count
    # (sources/layout.py n_tokens_pre — the HOF reference expression
    # verbatim, parity pinned), so the card never tokenizes at query
    # time there. Two details both measured at 160x:
    # - the null filter uses the served column (n_tokens_pre is null
    #   exactly when text is null — size/tokens propagate null,
    #   pinned in the layout parity test); filtering on text would
    #   drag the whole text column through the scan just for the
    #   null test (~3 s of pure text I/O on the 160x card);
    # - the quantile call keeps the STORED column name so its
    #   cardinality probe hits the documents colstats sidecar (an
    #   aliased column misses and falls back to the HLL scan).
    # A fused one-pass variant (serve vols + quantiles from one
    # persisted (source, ntok) histogram) measured SLOWER warm at
    # 160x (2.0 vs 1.5 s): with the pruned two-long-column scan this
    # cheap, the extra stages cost more than the saved pass. Raw
    # dirs (every oracle run) tokenize on the fly.
    if "n_tokens_pre" in docs.columns:
        counts = docs.filter(F.col("n_tokens_pre").isNotNull()).select(
            "source", "n_tokens_pre"
        )
        q = SK.exact_quantiles_by(
            counts, "source", "n_tokens_pre", [0.5, 0.95]
        )
        counts = counts.withColumnRenamed("n_tokens_pre", "ntok")
    else:
        counts = docs.filter(F.col("text").isNotNull()).select(
            "source", F.size(tokens("text")).cast("long").alias("ntok")
        )
        q = SK.exact_quantiles_by(counts, "source", "ntok", [0.5, 0.95])
    vols = counts.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("ntok").alias("total_tokens")
    )
    wide = q.groupBy("source").agg(
        F.max(F.when(F.col("p") == 0.5, F.col("value"))).alias("p50_tokens"),
        F.max(F.when(F.col("p") == 0.95, F.col("value"))).alias("p95_tokens"),
    )
    # re-tie: q carries the quantile histogram's cache tie; without
    # the transfer q dies at return and the histogram (consumed twice
    # inside the quantile plan) recomputes at materialization
    from nerd_spark.operators.cacheutil import tie_unpersist

    return tie_unpersist(vols.join(wide, "source"), q)


@query(
    "dedup_incremental",
    f"""
    WITH {_MINHASH_BANDS},
    cand AS (
      SELECT DISTINCT least(x.doc_id, y.doc_id) AS a_id,
                      greatest(x.doc_id, y.doc_id) AS b_id
      FROM blong x JOIN blong y ON x.b = y.b AND x.h = y.h
      WHERE x.doc_id != y.doc_id AND y.doc_id % 5 = 4
    ),
    {_JACCARD_VERIFY}
    SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.5
    """,
)
def dedup_incremental(spark, sf_dir):
    # Continuous-ingestion dedup (operators/dedup.py): the batch
    # (doc_id % 5 = 4 stands in for an arriving micro-batch) checks
    # itself and the existing corpus; old-old pairs are never
    # recomputed, batch side broadcasts. On an optimized dir the
    # corpus band signatures come from the PERSISTED index
    # (layout-time build, freshness-gated like every summary) so no
    # corpus doc is re-shingled at query time — the O(batch +
    # collisions) contract for real. Raw dirs (every oracle compare)
    # recompute in-query, same result.
    #
    # Size gate (r9, the token_stats/waist floor discipline): below
    # spark.nerd.dedupIndexMinBytes of source the full recompute is
    # CHEAPER than the serve path's freshness probes + index join
    # (measured at sf0.1: 0.83 s recompute vs 1.4-1.8 s serve; the
    # serve win only materializes once shingling dominates — 80x:
    # 33.7 -> 15.0 s), so tiny sources skip the index even when fresh.
    from nerd_spark.operators.dedup import _bytes_conf
    from nerd_spark.sources.fsutil import estimate_input_bytes
    from nerd_spark.sources.layout import (
        MINHASH_BANDS_DIRNAME,
        serve_table,
    )

    docs = t(spark, sf_dir, "documents")
    batch = lambda c: c % 5 == 4  # noqa: E731
    min_bytes = _bytes_conf(spark, "spark.nerd.dedupIndexMinBytes", 8 << 20)
    est = estimate_input_bytes(docs)
    bands = None
    if est is None or est >= min_bytes:
        bands = serve_table(
            spark,
            sf_dir,
            MINHASH_BANDS_DIRNAME,
            expect_cols=("id", "b", "h"),
            sources=("documents.parquet",),
        )
    if bands is not None:
        return DD.incremental_minhash_pairs_indexed(docs, bands, batch)
    return DD.incremental_minhash_pairs(docs, batch)


@query(
    "quality_model_filter",
    rf"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '{STOPWORDS_RE}')) AS BIGINT) AS n_stop
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -2.0 + 0.6 * ln(1.0 + n_tokens)
                  + -8.0 * (n_punct * 1.0 / greatest(n_chars, 1))
                  + 2.5 * (n_stop * 1.0 / greatest(n_tokens, 1))
                  + -0.3 * ((n_chars - n_tokens + 1) * 1.0 / greatest(n_tokens, 1))
               AS z
      FROM feat
    )
    SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS q_score,
           round(1.0 / (1.0 + exp(-z)), 6) >= 0.32 AS kept
    FROM z
    """,
)
def quality_model_filter(spark, sf_dir):
    # Model-based quality gating (ml/quality.py): logistic score over
    # the JVM-side quality features as a closed-form column expression
    # — no UDF; trained weights drop in via ml/train.logistic_fit
    # (tests/test_fmp_train.py proves the fit seam).
    docs = t(spark, sf_dir, "documents")
    scored = QM.quality_filter(docs, threshold=0.32)
    return scored.select("doc_id", "q_score", "kept")


# Quality z-score CTEs, shared by quality_model_filter and the
# best-of-cluster survivor selection below.
_QUALITY_Z = rf"""
    feat AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '{STOPWORDS_RE}')) AS BIGINT) AS n_stop
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -2.0 + 0.6 * ln(1.0 + n_tokens)
                  + -8.0 * (n_punct * 1.0 / greatest(n_chars, 1))
                  + 2.5 * (n_stop * 1.0 / greatest(n_tokens, 1))
                  + -0.3 * ((n_chars - n_tokens + 1) * 1.0 / greatest(n_tokens, 1))
               AS z
      FROM feat
    )
"""


@query(
    "dedup_best_of_cluster",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM edges
      UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node
    ),
    cc AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
    {_QUALITY_Z},
    scored AS (
      SELECT cc.node, cc.root,
             round(1.0 / (1.0 + exp(-z.z)), 6) AS q_score,
             count(*) OVER (PARTITION BY cc.root) AS cluster_size
      FROM cc JOIN z ON z.doc_id = cc.node
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY root ORDER BY q_score DESC, node) AS rk
      FROM scored
    )
    SELECT root AS cluster_root, node AS keep_id, q_score AS keep_score,
           cluster_size
    FROM ranked WHERE rk = 1
    """,
)
def dedup_best_of_cluster(spark, sf_dir):
    # Survivor selection: near-dup clusters (minhash pairs -> connected
    # components) keep their HIGHEST-QUALITY member (ml/quality.py
    # logistic score), not the arbitrary min-id — the curation-grade
    # dedup policy. One plan composes both operator families; the
    # oracle replays it with the recursive-CTE closure.
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(spark, docs, n_bands=4, rows_per_band=3, threshold=0.5)
    clusters = CCOMP.dedup_clusters(pairs)
    # Score FIRST (map-side over the scan), then join the narrow
    # (doc_id, q_score) frame to the membership. The tempting
    # "semi-join down to members before scoring" order is strictly
    # worse: the semi join must read every doc's text anyway (the
    # same full scan scoring needs), and computing the feature
    # expressions on the join OUTPUT defeats the single-tokenization
    # CSE across the join boundary — measured 9.9 s vs 1.4 s at 80x
    # for this stage. Scoring is per-row, so scoring non-members and
    # discarding them in the inner join is result-identical; what
    # crosses the exchange is 16-byte score rows, never text.
    scored = clusters.join(QM.quality_scores(docs), "doc_id")
    w = Window.partitionBy("cluster_root").orderBy(
        F.col("q_score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_root",
            F.col("doc_id").alias("keep_id"),
            F.col("q_score").alias("keep_score"),
            "cluster_size",
        )
    )


@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS}),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM edges
      UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node
    ),
    cc AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, coalesce(cc.root, d.doc_id) AS unit
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    )
    SELECT doc_id, unit,
           CASE WHEN {_hex8("md5('leak' || CAST(unit AS VARCHAR))", 1)}
                     < {_SPLIT_CUT} THEN 'val' ELSE 'train' END AS split
    FROM assigned
    """,
)
def leakage_safe_split(spark, sf_dir):
    # Leakage-safe train/val split: the assignment unit is the
    # near-dup CLUSTER (minhash pairs -> connected components;
    # singletons are their own unit), so near-duplicates can never
    # straddle the split boundary and leak eval content into
    # training — the group-aware split a curation pipeline needs
    # after dedup finds (but keeps) near-dup families.
    docs = t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(spark, docs, n_bands=4, rows_per_band=3, threshold=0.5)
    clusters = CCOMP.dedup_clusters(pairs)
    assigned = docs.join(
        clusters.select("doc_id", "cluster_root"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_root", "doc_id").alias("unit"),
    )
    hashed = SAMP.hash_split(
        assigned, val_frac=_SPLIT_FRAC, id_col="unit", salt="leak"
    )
    return hashed.select("doc_id", "unit", "split")


@query(
    "lm_unigram_logprob",
    """
    WITH toks0 AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ),
    toks AS (SELECT * FROM toks0 WHERE term != ''),
    vocab AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS total FROM toks)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(cnt * 1.0 / total)), 6) AS avg_logprob
    FROM toks JOIN vocab USING (term) CROSS JOIN tot
    GROUP BY 1
    """,
)
def lm_unigram_logprob(spark, sf_dir):
    # Perplexity-proxy quality signal (operators/keywords.py): mean
    # unigram log-probability per doc under the corpus's own unigram
    # model — rare-token soup scores low. Vocabulary broadcast;
    # scoring map-side.
    docs = t(spark, sf_dir, "documents")
    return KW.unigram_logprob(docs)


@query(
    "lm_bigram_logprob",
    r"""
    WITH arrs AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
      FROM documents WHERE text IS NOT NULL
    ),
    pairs0 AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(arr)),
               i -> struct_pack(w1 := arr[i], w2 := arr[i + 1]))) AS pr
      FROM arrs WHERE len(arr) >= 2
    ),
    pairs AS (
      SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2 FROM pairs0
      WHERE pr.w1 != '' AND pr.w2 != ''
    ),
    bg AS (SELECT w1, w2, count(*) AS c2 FROM pairs GROUP BY 1, 2),
    lf AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln(c2 * 1.0 / c1)), 6) AS avg_logprob
    FROM pairs JOIN bg USING (w1, w2) JOIN lf USING (w1)
    GROUP BY 1
    """,
)
def lm_bigram_logprob(spark, sf_dir):
    # Word-ORDER fluency signal (operators/keywords.py): mean
    # conditional bigram log-probability p(w2|w1) under the corpus's
    # own bigram model — shuffled-word soup scores low even when every
    # token is common. Count tables broadcast; scoring map-side.
    docs = t(spark, sf_dir, "documents")
    return KW.bigram_logprob(docs)


_HEXPARSE = (
    "(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 4096 + "
    "(strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) * 256 + "
    "(strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) * 16 + "
    "(strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1)"
)

_SIMHASH_BITS = "".join(
    f", sum((hv // {2**j}) % 2) AS b{j}" for j in range(16)
)
_SIMHASH_VAL = " + ".join(
    f"CASE WHEN 2 * b{j} > n THEN {2**j} ELSE 0 END" for j in range(16)
)


@query(
    "dedup_simhash",
    f"""
    WITH dt AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {_HEXPARSE} AS hv FROM dt),
    bits AS (SELECT doc_id, count(*) AS n{_SIMHASH_BITS} FROM h GROUP BY 1)
    SELECT doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash FROM bits
    """,
)
def dedup_simhash(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return DD.simhash(docs).select(F.col("id").alias("doc_id"), "simhash")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS = (
    "round(list_dot_product(qv, v) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)"
)


@query(
    "ann_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS sim
      FROM e, q WHERE e.vec_id != q.query_id
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10
    """,
)
def ann_cosine_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb, F.col("vec_id") < 10, k=10)


@query(
    "ann_lsh_bucket_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    wb AS (
      SELECT vec_id AS id, v,
             (CASE WHEN v[1]  >= 0 THEN 1 ELSE 0 END) +
             (CASE WHEN v[17] >= 0 THEN 2 ELSE 0 END) +
             (CASE WHEN v[33] >= 0 THEN 4 ELSE 0 END) +
             (CASE WHEN v[49] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM e
    ),
    q AS (SELECT id AS query_id, v AS qv, bucket FROM wb WHERE id < 10),
    sims AS (
      SELECT q.query_id, wb.id AS neighbor_id, {_COS} AS sim
      FROM wb JOIN q USING (bucket) WHERE wb.id != q.query_id
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """,
)
def ann_lsh_bucket_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return SIM.lsh_bucket_topk(emb, lambda c: c < 10, k=5)


@query(
    "emb_centroids",
    """
    SELECT label, count(*) AS n,
           round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS dim1,
           round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS dim2,
           round(avg(CAST(embedding[3] AS DOUBLE)), 6) AS dim3,
           round(avg(CAST(embedding[4] AS DOUBLE)), 6) AS dim4
    FROM embeddings GROUP BY 1
    """,
)
def emb_centroids(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.avg(F.element_at(v, i)), 6).alias(f"dim{i}")
            for i in range(1, 5)
        ],
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_quality",
    rf"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           round(len(regexp_extract_all(text, '[^\w\s]')) * 1.0
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(len(regexp_extract_all(text, '{STOPWORDS_RE}')) * 1.0
                 / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6) AS stopword_ratio
    FROM documents
    """,
)
def text_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    q = quality_features("text")
    return docs.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
    )


_LANG_CNT_SQL = {
    lang: f"len(regexp_extract_all(text, '{rx}'))" for lang, rx in LANG_MARKERS.items()
}

@query(
    "text_langid",
    f"""
    WITH scored AS (
      SELECT doc_id,
             {_LANG_CNT_SQL['en']} AS en, {_LANG_CNT_SQL['de']} AS de,
             {_LANG_CNT_SQL['fr']} AS fr, {_LANG_CNT_SQL['es']} AS es
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN en + de + fr + es = 0 THEN 'und'
                WHEN en >= de AND en >= fr AND en >= es THEN 'en'
                WHEN de >= fr AND de >= es THEN 'de'
                WHEN fr >= es THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM scored
    """,
)
def text_langid(spark, sf_dir):
    # n-gram/stopword language-ID heuristic: argmax of per-language
    # marker hits, priority order en>de>fr>es on ties, 'und' when no
    # marker fires (functions/text.predicted_lang mirrors the CASE).
    from nerd_spark.functions.text import predicted_lang

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", predicted_lang("text").alias("pred_lang"))


@query(
    "text_token_stats",
    r"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_ish
    FROM documents GROUP BY 1
    """,
)
def text_token_stats(spark, sf_dir):
    # Byte-LUT Arrow kernel (operators/keywords.py::token_stats):
    # bytes classified through a 256-entry LUT, token/BPE counts as
    # class-run starts at memory speed — 2.5x the single-tokenization
    # HOF form at 160x (which itself was 5x the naive two-regex-walk
    # form, VERDICT r6 #3). Parity with the HOF reference is pinned
    # by adversarial tests; the DuckDB oracle is unchanged.
    docs = t(spark, sf_dir, "documents")
    return KW.token_stats(docs, group_col="source", text_col="text")


# The synthetic corpus carries no PII, so the scrub query plants a
# deterministic email + ipv4 (every doc) and phone (every 3rd doc)
# derived from doc_id — mirrored exactly in the oracle — then counts
# and scrubs with functions.text.PII_PATTERNS. n_residual proves the
# scrub: every planted match must be gone from the scrubbed text.
_PII_AUG_SQL = """
      text || ' contact user' || doc_id::VARCHAR || '@mail.example.com'
           || ' from 10.' || (doc_id % 256)::VARCHAR || '.0.'
           || (doc_id % 100)::VARCHAR
           || CASE WHEN doc_id % 3 = 0
                   THEN ' call +1 (555) 010-2030' ELSE '' END
"""


@query(
    "text_pii_scrub",
    rf"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS s FROM documents),
    scrubbed AS (
      SELECT doc_id, s,
        regexp_replace(regexp_replace(regexp_replace(s,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
          '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b', '<IPV4>', 'g'),
          '\+?\b\d[\d()\- ]{{6,}}\d\b', '<PHONE>', 'g') AS sc
      FROM aug
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(s, '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b')) AS BIGINT) AS n_ipv4,
      CAST(len(regexp_extract_all(s, '\+?\b\d[\d()\- ]{{6,}}\d\b')) AS BIGINT) AS n_phone,
      CAST(len(regexp_extract_all(sc, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'))
         + len(regexp_extract_all(sc, '\b\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\.\d{{1,3}}\b'))
         + len(regexp_extract_all(sc, '\+?\b\d[\d()\- ]{{6,}}\d\b')) AS BIGINT) AS n_residual,
      CAST(length(s) - length(sc) AS BIGINT) AS len_delta
    FROM scrubbed
    """,
)
def text_pii_scrub(spark, sf_dir):
    from nerd_spark.functions.text import pii_counts, scrub_pii

    docs = t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" call +1 (555) 010-2030")
            ).otherwise(F.lit("")),
        ).alias("s"),
    )
    cnt = pii_counts("s")
    residual = pii_counts(scrub_pii("s"))
    return aug.select(
        "doc_id",
        cnt["email"].alias("n_email"),
        cnt["ipv4"].alias("n_ipv4"),
        cnt["phone"].alias("n_phone"),
        (residual["email"] + residual["ipv4"] + residual["phone"]).alias(
            "n_residual"
        ),
        (F.length("s") - F.length(scrub_pii("s"))).cast("long").alias("len_delta"),
    )


@query(
    "quality_gopher_rules",
    rf"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '{STOPWORDS_RE}')) AS BIGINT) AS n_stop,
             CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             (n_tokens >= 20 AND n_tokens <= 100000) AS ok_word_count,
             ((n_chars - n_tokens + 1) * 1.0 / greatest(n_tokens, 1) >= 3.0
              AND (n_chars - n_tokens + 1) * 1.0 / greatest(n_tokens, 1) <= 10.0) AS ok_mean_word_len,
             (n_stop >= 2) AS ok_stopwords,
             (n_punct * 1.0 / greatest(n_chars, 1) <= 0.1) AS ok_punct_ratio,
             (n_distinct * 1.0 / greatest(n_tokens, 1) >= 0.3) AS ok_distinct_ratio
      FROM f
    )
    SELECT doc_id, ok_word_count, ok_mean_word_len, ok_stopwords,
           ok_punct_ratio, ok_distinct_ratio,
           (ok_word_count AND ok_mean_word_len AND ok_stopwords
            AND ok_punct_ratio AND ok_distinct_ratio) AS keep
    FROM r
    """,
)
def quality_gopher_rules(spark, sf_dir):
    # Gopher-style heuristic rule battery (ml/quality.py::gopher_rules):
    # per-doc auditable flags + conjunctive keep, all JVM column
    # expressions over one scan — the standard pre-model quality
    # filter a curation pipeline runs before the learned gate.
    return QM.gopher_rules(t(spark, sf_dir, "documents"))


@query(
    "text_span_dedup",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    blocks AS (
      SELECT doc_id, i,
             array_to_string(t[(i*10+1):((i+1)*10)], ' ') AS btext
      FROM toks, LATERAL (SELECT unnest(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS i) _
    ),
    dfc AS (SELECT btext, count(DISTINCT doc_id) AS block_df FROM blocks GROUP BY 1),
    flagged AS (SELECT b.doc_id, b.i, b.btext, (d.block_df >= 2) AS boiler
                FROM blocks b JOIN dfc d USING (btext))
    SELECT doc_id,
           count(*) AS n_blocks,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN NOT boiler THEN btext END, ' ' ORDER BY i), '') AS kept_text
    FROM flagged GROUP BY 1
    """,
)
def text_span_dedup(spark, sf_dir):
    # C4-style cross-document span removal (operators/dedup.py::
    # span_dedup): fixed 10-token blocks recurring in >= 2 distinct
    # docs are boilerplate and are deleted from every carrier — the
    # chrome/license-header cleanup a web-corpus pipeline runs before
    # whole-doc dedup. Map-only blocking, one DF-count shuffle, a
    # fingerprint join back; output includes the cleaned text itself
    # (hash-checked against the oracle's ordered re-assembly).
    return DD.span_dedup(t(spark, sf_dir, "documents"))


@query(
    "text_repetition",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    base AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
      FROM toks
    ),
    big AS (
      SELECT doc_id, unnest(list_transform(
        generate_series(1, greatest(len(w) - 1, 0)),
        i -> w[i] || ' ' || w[i+1])) AS g
      FROM toks
    ),
    cnt AS (SELECT doc_id, g, count(*) AS n FROM big GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram_n,
             CAST(sum(n) AS BIGINT) AS bigram_total
      FROM cnt GROUP BY 1
    )
    SELECT base.doc_id, n_tokens, n_distinct,
      round(1.0 - n_distinct * 1.0 / greatest(n_tokens, 1), 6) AS dup_token_ratio,
      coalesce(top_bigram_n, 0) AS top_bigram_n,
      coalesce(bigram_total, 0) AS bigram_total,
      round(coalesce(top_bigram_n * 1.0 / bigram_total, 0), 6) AS top_bigram_ratio
    FROM base LEFT JOIN agg USING (doc_id)
    """,
)
def text_repetition(spark, sf_dir):
    # Gopher/C4-style repetition quality signals: duplicate-token
    # fraction (map-only column math) and most-frequent-bigram share
    # (explode -> two-level keyed agg; per-(doc,gram) combine first, so
    # a long skewed doc partial-aggregates before the per-doc rollup —
    # the 100 TB-safe formulation, never per-doc in driver memory).
    from nerd_spark.functions.text import tokens, word_shingles

    docs = t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokens("text"))).cast("long").alias("n_distinct"),
    )
    grams = docs.select(
        "doc_id", F.explode(word_shingles("text", 2)).alias("g")
    )
    agg = (
        grams.groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("top_bigram_n"), F.sum("n").alias("bigram_total")
        )
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(
            F.lit(1.0)
            - F.col("n_distinct").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("dup_token_ratio"),
        F.coalesce("top_bigram_n", F.lit(0).cast("long")).alias("top_bigram_n"),
        F.coalesce("bigram_total", F.lit(0).cast("long")).alias("bigram_total"),
        F.round(
            F.coalesce(
                F.col("top_bigram_n").cast("double")
                / F.col("bigram_total").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("top_bigram_ratio"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary payload + mapInPandas features)
# ---------------------------------------------------------------------------


@query(
    "multimodal_bytes",
    """
    SELECT source, count(*) AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    """,
)
def multimodal_bytes(spark, sf_dir):
    # Binary payload column -> Arrow-batched mapInPandas feature
    # extraction (the stubbed decode path) -> aggregate. The oracle
    # independently checks byte accounting via octet_length.
    docs = t(spark, sf_dir, "documents")
    feats = MM.extract_features(MM.attach_payload(docs))
    return feats.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_bytes").alias("total_bytes")
    )


# IVF-flat search with the deterministic first-8-vectors quantizer and
# queries id<10 probing 2 lists. Shared by ann_ivf_topk (in-memory
# assignment) and ann_ivf_indexed (on-disk partition-pruned index):
# both compute the identical result, so they share this oracle.
_IVF_ORACLE = f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
    scored AS (
      SELECT e.id, e.v, c.cid,
             round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      FROM e, cents c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS crank
      FROM scored
    ),
    corpus AS (SELECT id, v, cid FROM ranked WHERE crank = 1),
    probes AS (
      SELECT id AS query_id, v AS qv, cid FROM ranked
      WHERE crank <= 2 AND id < 10
    ),
    sims AS (
      SELECT query_id, corpus.id AS neighbor_id,
             max(round(list_dot_product(qv, corpus.v) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(corpus.v, corpus.v))), 6)) AS sim
      FROM corpus JOIN probes USING (cid)
      WHERE corpus.id != probes.query_id
      GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
    """


@query(
    "dedup_semantic",
    """
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT id AS cid, v AS cv FROM e WHERE id < 8),
    scored AS (
      SELECT e.id, e.v, c.cid,
             round(list_dot_product(v, cv) /
                   (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
      FROM e, cents c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY id ORDER BY csim DESC, cid) AS crank
      FROM scored
    ),
    assigned AS (SELECT id, v, cid FROM ranked WHERE crank = 1)
    SELECT x.id AS a_id, y.id AS b_id, x.cid AS cid,
           round(list_dot_product(x.v, y.v) /
                 (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
    FROM assigned x JOIN assigned y ON x.cid = y.cid AND x.id < y.id
    WHERE round(list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4
    """,
)
def dedup_semantic(spark, sf_dir):
    # SemDeDup-shaped cluster-then-compare semantic dedup
    # (operators/similarity.py::semantic_dedup): nearest-centroid
    # clustering bounds the pair join to within-cluster, never
    # all-pairs; complements the sign-LSH bucket variant
    # (dedup_embedding_cosine) with the quantizer-based bucketing the
    # IVF index already maintains at ingest.
    emb = t(spark, sf_dir, "embeddings")
    return SIM.semantic_dedup(emb, n_lists=8, threshold=0.4)


@query("ann_ivf_topk", _IVF_ORACLE)
def ann_ivf_topk(spark, sf_dir):
    # IVF-flat ANN: deterministic coarse quantizer (first-8 vectors),
    # probe the 2 nearest inverted lists (operators/similarity.py).
    emb = t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, lambda c: c < 10, k=5, n_lists=8, n_probe=2)


@query("ann_ivf_indexed", _IVF_ORACLE)
def ann_ivf_indexed(spark, sf_dir):
    # The 100 TB IVF path: corpus persisted bucketed-by-list-id
    # (one cid=<n>/ partition per inverted list), probes read only
    # n_probe/n_lists of the files via partition pruning — same
    # result (and oracle) as ann_ivf_topk, different physical plan.
    # The index is ingest-time state: optimize_layout builds it next
    # to the tables, and a probe only builds its own copy when the
    # data dir has no prebuilt one (the sf0.01 correctness runs).
    import os
    import tempfile

    from nerd_spark.sources.layout import IVF_INDEX_DIRNAME

    emb = t(spark, sf_dir, "embeddings")
    path = os.path.join(sf_dir, IVF_INDEX_DIRNAME)
    if not os.path.exists(os.path.join(path + ".centroids", "_SUCCESS")):
        path = os.path.join(
            tempfile.gettempdir(), f"nerd_spark_ivf_{_dataset_key(sf_dir)}"
        )
        _build_index_once(
            path,
            os.path.join(path + ".centroids", "_SUCCESS"),
            lambda: SIM.build_ivf_index(emb, path, n_lists=8),
        )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # 10 probes by construction (vec_id < 10): driver-small, so the
    # one-job collected-probe path applies (operator docstring)
    return SIM.ivf_probe(spark, path, q, k=5, n_probe=2, collect_probes=True)



def _build_index_once(path: str, gate: str, build) -> None:
    """Cross-process check-then-build for a tmp-cached index.

    _dataset_key deliberately makes the tmp path stable across
    processes, which opened a race (ADVICE r7): two concurrent
    drivers could both pass the missing-gate check and overwrite the
    same path, one reading while the other is mid-overwrite. An
    O_CREAT|O_EXCL lock file serializes builders; the loser waits for
    the winner's gate file (bounded), and a stale lock (dead builder)
    is stolen after the wait budget.
    """
    import os
    import time

    if os.path.exists(gate):
        return
    lock = path + ".lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        for _ in range(240):  # wait up to 2 min for the builder
            if os.path.exists(gate):
                return
            if not os.path.exists(lock):
                break  # builder exited (possibly failed): fall through
            time.sleep(0.5)
        try:  # steal the stale lock and build ourselves
            os.unlink(lock)
        except OSError:
            pass
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        if not os.path.exists(gate):
            build()
    finally:
        os.close(fd)
        try:
            os.unlink(lock)
        except OSError:
            pass


def _dataset_key(sf_dir: str) -> str:
    """Stable cache key for per-dataset derived state in tmp: md5 of
    (path, embeddings size+mtime). Python's str hash is salted per
    process, so hash(sf_dir) could never hit across driver runs (each
    run rebuilt and orphaned an index copy); a content-version key
    reuses across processes AND invalidates when the table is
    regenerated in place."""
    import hashlib
    import os

    probe = os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = os.stat(probe)
        sig = f"{sf_dir}:{st.st_size}:{int(st.st_mtime)}"
    except OSError:
        sig = sf_dir
    return hashlib.md5(sig.encode()).hexdigest()[:12]


@query("ann_ivf_trained", golden_oracle("ann_ivf_trained"))
def ann_ivf_trained(spark, sf_dir):
    # IVF-flat with a trained coarse quantizer: deterministic spherical
    # k-means (5 Lloyd iterations, cosine assignment) replaces the
    # first-N-vectors quantizer of ann_ivf_topk. Not SQL-expressible
    # (iterative), so the oracle is the committed pinned-seed golden
    # (queries/golden.py) + the in-path recall floor below; recall@10
    # is 0.96 at sf0.1 with 16 lists / 4 probes, 0.85 at sf0.01
    # (fewer vectors per list); 0.80 is the family floor.
    emb = t(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_centroids(emb, n_lists=16, n_iter=5)
    out = SIM.ivf_topk(
        emb, lambda c: c < 10, k=10, n_lists=16, n_probe=4, centroids=cents
    )
    return _assert_recall_floor(emb, out, floor=0.80)


@query("ann_pq_topk", golden_oracle("ann_pq_topk"))
def ann_pq_topk(spark, sf_dir):
    # Product-quantized ANN with exact rerank: the memory-bounded end
    # of the ANN family — the corpus scan reads m=8 one-byte codes per
    # vector (32x smaller than the raw float64[64]) and ranks by ADC
    # table lookup; the top-100 candidates are re-scored with exact
    # cosine. Training (per-subspace k-means) is iterative, hence no
    # SQL oracle; recall@10 >= 0.8 vs brute force is pinned in
    # tests/test_pq.py, and rerank >= corpus degenerating to the exact
    # brute-force result is the exactness property tested beside it.
    # Oracle: committed pinned-seed golden (queries/golden.py) + the
    # in-path recall floor.
    from nerd_spark.operators import pq as PQ

    emb = t(spark, sf_dir, "embeddings")
    books = PQ.train_pq_codebooks(emb, m=8, k=32, n_iter=4, train_rows=5000)
    out = PQ.pq_topk(emb, lambda c: c < 10, books, k=10, rerank=100)
    return _assert_recall_floor(emb, out, floor=0.80)


@query("ann_ivfpq_indexed", golden_oracle("ann_ivfpq_indexed"))
def ann_ivfpq_indexed(spark, sf_dir):
    # The combined on-disk structure faiss deploys at billion-vector
    # scale: inverted lists prune PARTITIONS (a probe lists
    # n_probe/n_lists of the files), PQ codes prune COLUMNS (the ADC
    # candidate scan reads m bytes/row, never the vectors —
    # ReadSchema-asserted in tests/test_pq.py), exact rerank reads
    # full vectors for only Q*rerank rows. all-probes + full-rerank
    # degenerating to bit-equal brute force is tested beside it;
    # recall@10 = 0.86 at sf0.01 with 16 lists / 4 probes / rerank 100.
    import os
    import tempfile

    from nerd_spark.operators import pq as PQ
    from nerd_spark.operators import similarity as SIM

    emb = t(spark, sf_dir, "embeddings")
    path = os.path.join(
        tempfile.gettempdir(), f"nerd_spark_ivfpq_{_dataset_key(sf_dir)}"
    )
    def _build():
        cents = SIM.kmeans_centroids(emb, n_lists=16, n_iter=3)
        PQ.build_ivfpq_index(emb, path, m=8, k=32, n_iter=3, centroids=cents)

    _build_index_once(
        path, os.path.join(path + ".codebooks", "_SUCCESS"), _build
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    out = PQ.ivfpq_probe(spark, path, q, k=10, n_probe=4, rerank=100)
    return _assert_recall_floor(emb, out, floor=0.80)


@query(
    "dedup_embedding_cosine",
    f"""
    WITH e AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1]  >= 0 THEN 1 ELSE 0 END) +
             (CASE WHEN embedding[17] >= 0 THEN 2 ELSE 0 END) +
             (CASE WHEN embedding[33] >= 0 THEN 4 ELSE 0 END) +
             (CASE WHEN embedding[49] >= 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings
    )
    SELECT x.id AS a_id, y.id AS b_id,
           round(list_dot_product(x.v, y.v) /
                 (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
    FROM e x JOIN e y ON x.bucket = y.bucket AND x.id < y.id
    WHERE round(list_dot_product(x.v, y.v) /
          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.4
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    # Embedding-cosine near-dup: sign-LSH bucketed candidate self-join
    # + exact cosine verify (operators/dedup.py::embedding_neardup).
    emb = t(spark, sf_dir, "embeddings")
    return DD.embedding_neardup(emb, threshold=0.4)


@query(
    "text_fingerprint",
    r"""
    WITH n AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN length(s) = 0 THEN 0
                ELSE list_reduce(
                  list_transform(generate_series(1, length(s)),
                                 i -> CAST(ord(substr(s, i, 1)) AS BIGINT)),
                  (a, b) -> (a * 257 + b) % 2147483647) END AS fp
    FROM n
    """,
)
def text_fingerprint(spark, sf_dir):
    # Rabin-Karp rolling-hash fingerprint (functions/text.py) — the
    # incremental counterpart of the md5 fingerprint dedup_exact uses.
    from nerd_spark.functions.text import rolling_fingerprint

    docs = t(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint("text").alias("fp"))


_LANG_CASE = f"""
    CASE WHEN {_LANG_CNT_SQL['en']} + {_LANG_CNT_SQL['de']}
            + {_LANG_CNT_SQL['fr']} + {_LANG_CNT_SQL['es']} = 0 THEN 'und'
         WHEN {_LANG_CNT_SQL['en']} >= {_LANG_CNT_SQL['de']}
          AND {_LANG_CNT_SQL['en']} >= {_LANG_CNT_SQL['fr']}
          AND {_LANG_CNT_SQL['en']} >= {_LANG_CNT_SQL['es']} THEN 'en'
         WHEN {_LANG_CNT_SQL['de']} >= {_LANG_CNT_SQL['fr']}
          AND {_LANG_CNT_SQL['de']} >= {_LANG_CNT_SQL['es']} THEN 'de'
         WHEN {_LANG_CNT_SQL['fr']} >= {_LANG_CNT_SQL['es']} THEN 'fr'
         ELSE 'es' END
"""


@query(
    "corpus_curation",
    rf"""
    WITH q AS (
      SELECT doc_id, source, text,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             len(regexp_extract_all(text, '{STOPWORDS_RE}')) * 1.0
               / greatest(len(string_split_regex(trim(text), '\s+')), 1) AS stopw,
             {_LANG_CASE} AS lang
      FROM documents
    ),
    staged AS (
      SELECT *,
             (stopw >= 0.05) AS pass_quality,
             (lang = 'en') AS pass_lang,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM q
    ),
    canon AS (
      SELECT fp, min(doc_id) AS canonical_id FROM staged
      WHERE pass_quality AND pass_lang GROUP BY 1
    ),
    flagged AS (
      SELECT s.*,
             (s.pass_quality AND s.pass_lang
              AND s.doc_id = c.canonical_id) AS kept
      FROM staged s LEFT JOIN canon c ON s.fp = c.fp
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE NOT pass_quality) AS BIGINT) AS n_dropped_quality,
           CAST(count(*) FILTER (WHERE pass_quality AND NOT pass_lang) AS BIGINT) AS n_dropped_lang,
           CAST(count(*) FILTER (WHERE pass_quality AND pass_lang AND NOT kept) AS BIGINT) AS n_dropped_dup,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(n_tokens) FILTER (WHERE kept), 0) AS BIGINT) AS kept_tokens
    FROM flagged GROUP BY 1
    """,
)
def corpus_curation(spark, sf_dir):
    # End-to-end training-corpus curation: quality gate (stopword
    # ratio) -> language filter (en) -> exact near-dup removal keeping
    # the canonical doc -> per-source yield accounting. One scan, one
    # fingerprint shuffle; each stage is the already-oracle-checked
    # operator composed declaratively.
    from pyspark.sql import Window as W

    from nerd_spark.functions.text import (
        fingerprint,
        predicted_lang,
        quality_features,
        tokens,
    )

    docs = t(spark, sf_dir, "documents")
    # single shared tokenization feeding every per-doc feature
    toks = tokens("text")
    qf = quality_features("text", toks=toks)
    staged = docs.select(
        "doc_id",
        "source",
        qf["n_tokens"].alias("n_tokens"),
        (qf["stopword_ratio"] >= 0.05).alias("pass_quality"),
        (predicted_lang("text", toks=toks) == "en").alias("pass_lang"),
        fingerprint("text").alias("fp"),
    )
    canon = F.min(
        F.when(F.col("pass_quality") & F.col("pass_lang"), F.col("doc_id"))
    ).over(W.partitionBy("fp"))
    flagged = staged.withColumn(
        "kept",
        F.col("pass_quality") & F.col("pass_lang") & (F.col("doc_id") == canon),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(~F.col("pass_quality"), 1)).alias("n_dropped_quality"),
        F.count(F.when(F.col("pass_quality") & ~F.col("pass_lang"), 1)).alias(
            "n_dropped_lang"
        ),
        F.count(
            F.when(F.col("pass_quality") & F.col("pass_lang") & ~F.col("kept"), 1)
        ).alias("n_dropped_dup"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("n_tokens"))), F.lit(0).cast("long")
        ).alias("kept_tokens"),
    )


@query(
    "dedup_simhash_pairs",
    f"""
    WITH dt AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {_HEXPARSE} AS hv FROM dt),
    bits AS (SELECT doc_id, count(*) AS n{_SIMHASH_BITS} FROM h GROUP BY 1),
    sh AS (SELECT doc_id AS id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash FROM bits),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT id, simhash, {bi} AS band_idx, (simhash // {16 ** bi}) % 16 AS band_val FROM sh"
        for bi in range(4))}
    ),
    cand AS (
      SELECT DISTINCT x.id AS a_id, y.id AS b_id,
             x.simhash AS ha, y.simhash AS hb
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.id < y.id
    )
    SELECT a_id, b_id, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    # SimHash near-dup pairs via 4x4-bit hamming-LSH banding
    # (operators/dedup.py::simhash_neardup) — total recall for
    # hamming <= 3 by pigeonhole; verify on candidates only.
    docs = t(spark, sf_dir, "documents")
    return DD.simhash_neardup(docs, max_hamming=3)


# ---------------------------------------------------------------------------
# Flagship: the whole curation funnel as ONE measured, oracle-checked
# query (examples/curation_pipeline.py is the narrated version)
# ---------------------------------------------------------------------------

_CURATION_V3_TPL = """
    WITH RECURSIVE gf AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '{STOPWORDS_RE}')) AS BIGINT) AS n_stop,
             CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_distinct
      FROM documents
    ),
    g AS (
      SELECT d.* FROM documents d JOIN gf USING (doc_id)
      WHERE (gf.n_tokens >= 20 AND gf.n_tokens <= 100000)
        AND ((gf.n_chars - gf.n_tokens + 1) * 1.0 / greatest(gf.n_tokens, 1) >= 3.0
             AND (gf.n_chars - gf.n_tokens + 1) * 1.0 / greatest(gf.n_tokens, 1) <= 10.0)
        AND (gf.n_stop >= 2)
        AND (gf.n_punct * 1.0 / greatest(gf.n_chars, 1) <= 0.1)
        AND (gf.n_distinct * 1.0 / greatest(gf.n_tokens, 1) >= 0.3)
    ),
    sp_toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM g
    ),
    sp_blocks AS (
      SELECT doc_id, i,
             array_to_string(t[(i*10+1):((i+1)*10)], ' ') AS btext
      FROM sp_toks, LATERAL (SELECT unnest(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS i) _
    ),
    sp_dfc AS (SELECT btext, count(DISTINCT doc_id) AS bdf FROM sp_blocks GROUP BY 1),
    sp_flag AS (SELECT b.doc_id, b.i, b.btext, (d.bdf >= 2) AS boiler
                FROM sp_blocks b JOIN sp_dfc d USING (btext)),
    cleaned0 AS MATERIALIZED (
      SELECT f.doc_id, any_value(g.source) AS source,
             coalesce(string_agg(CASE WHEN NOT boiler THEN btext END, ' ' ORDER BY i), '') AS text
      FROM sp_flag f JOIN g USING (doc_id) GROUP BY f.doc_id
    ),
    cleaned AS MATERIALIZED (SELECT * FROM cleaned0 WHERE length(trim(text)) > 0),
    qt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM cleaned),
    ng AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(w) - {CN1}, 0)),
        i -> {CONTAM_GRAM}))) AS g
      FROM qt
    ),
    ev AS (SELECT doc_id, g FROM ng WHERE doc_id % 19 = 3),
    trn AS (SELECT doc_id, g FROM ng WHERE doc_id % 19 <> 3),
    evs AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY 1),
    hits AS (
      SELECT trn.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS shared
      FROM trn JOIN ev USING (g) GROUP BY 1, 2
    ),
    contam AS (
      SELECT DISTINCT train_id AS doc_id
      FROM hits JOIN evs ON evs.doc_id = hits.eval_id
      WHERE shared * 1.0 / evs.n >= 0.5
    ),
    d2 AS MATERIALIZED (
      SELECT cleaned.* FROM cleaned
      WHERE cleaned.doc_id % 19 <> 3
        AND cleaned.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    {BANDS_D2},
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM blong x JOIN blong y ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
    ),
    {JACCARD_VERIFY},
    pairs AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM edges
      UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node
    ),
    cc AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
    losers AS (SELECT node AS doc_id FROM cc WHERE node <> root),
    d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    tcnt AS (SELECT source, count(*) AS n_src FROM d3 GROUP BY 1),
    ttot AS (SELECT sum(n_src) AS n_tot FROM tcnt),
    tw AS (
      SELECT source, n_src, n_tot,
             round((n_src * 1.0 / n_tot) * (n_src * 1.0 / n_tot), 6) AS wt
      FROM tcnt, ttot
    ),
    tsw AS (SELECT round(sum(wt), 6) AS swt FROM tw),
    trates AS (
      SELECT source, round(wt / swt * n_tot / n_src, 6) AS rate FROM tw, tsw
    ),
    mixh AS (
      SELECT doc_id, d3.source, rate,
             ({TEMP_HASH}) / 4294967296.0 AS u
      FROM d3 JOIN trates USING (source)
    ),
    mixn AS (
      SELECT doc_id, source,
             CAST(floor(rate) AS BIGINT)
               + CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END AS n_copies
      FROM mixh
    ),
    kept AS (SELECT doc_id, source, n_copies FROM mixn WHERE n_copies >= 1),
    sp AS (SELECT doc_id, {SPLIT_HASH} AS sv FROM kept),
    shn AS (SELECT doc_id, ({SHARD_HASH}) % 4 AS shard FROM kept)
    SELECT k.doc_id, k.source, k.n_copies,
           CASE WHEN sp.sv < {SPLIT_CUT} THEN 'val' ELSE 'train' END AS split,
           shn.shard
    FROM kept k JOIN sp USING (doc_id) JOIN shn USING (doc_id)
"""

_CURATION_V3_ORACLE = _CURATION_V3_TPL.format(
    STOPWORDS_RE=STOPWORDS_RE,
    CN1=_CONTAM_N - 1,
    CONTAM_GRAM=_CONTAM_GRAM,
    BANDS_D2=_MINHASH_BANDS.replace("FROM documents", "FROM d2").strip(),
    JACCARD_VERIFY=_JACCARD_VERIFY.strip().rstrip(),
    TEMP_HASH=_hex8("md5('temp' || CAST(doc_id AS VARCHAR))", 1),
    SPLIT_HASH=_hex8("md5(CAST(doc_id AS VARCHAR))", 1),
    SHARD_HASH=_hex8("md5('shard' || CAST(doc_id AS VARCHAR))", 1),
    SPLIT_CUT=_SPLIT_CUT,
)

# v4 = v3 + an asymmetric-containment stage between the Jaccard
# cluster survivors and the mixture: subset copies (snippet-in-
# article, boilerplate-wrapped reposts) survive any Jaccard threshold
# — containment |A∩B|/min(|A|,|B|) catches them; the SHORTER text of
# each passing pair drops (it is the contained copy; doc_id breaks
# ties). The containment CTEs reuse the v3 oracle's d2 shingle rows
# (`sh`) and per-doc sets, restricted to d3 and df-capped over d3 —
# exactly operators/dedup.py::containment_dedup's candidate shape.
_CONTAINMENT_STAGE_SQL = """
    sh3 AS MATERIALIZED (
      SELECT doc_id, s FROM sh WHERE doc_id IN (SELECT doc_id FROM d3)
    ),
    df3 AS (SELECT s FROM sh3 GROUP BY s HAVING count(DISTINCT doc_id) <= 20),
    rare3 AS MATERIALIZED (
      SELECT doc_id, s FROM sh3 WHERE s IN (SELECT s FROM df3)
    ),
    cand3 AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM rare3 x JOIN rare3 y ON x.s = y.s AND x.doc_id < y.doc_id
    ),
    cont AS (
      SELECT c.a_id, c.b_id,
             round(len(list_intersect(sa.ss, sb.ss)) * 1.0
                   / least(sa.n, sb.n), 6) AS containment
      FROM cand3 c JOIN sets sa ON sa.doc_id = c.a_id
                   JOIN sets sb ON sb.doc_id = c.b_id
    ),
    cpair AS (SELECT a_id, b_id FROM cont WHERE containment >= 0.9),
    dlen AS (SELECT doc_id, length(text) AS len FROM d3),
    closers AS (
      SELECT DISTINCT CASE WHEN la.len < lb.len
                             OR (la.len = lb.len AND a_id > b_id)
                           THEN a_id ELSE b_id END AS doc_id
      FROM cpair JOIN dlen la ON la.doc_id = a_id
                 JOIN dlen lb ON lb.doc_id = b_id
    ),
    d4 AS (SELECT * FROM d3 WHERE doc_id NOT IN (SELECT doc_id FROM closers)),
"""

_V3_HEAD, _V3_TAIL = _CURATION_V3_ORACLE.split("    tcnt AS", 1)
_CURATION_V4_ORACLE = (
    # d3 and the shingle `sets` gain MATERIALIZED in v4: the
    # containment CTEs reference them repeatedly, and DuckDB
    # re-executes a plain CTE per reference — measured 309 s vs ~20 s
    # at sf0.001 (the recursive cluster closure re-ran per branch)
    _V3_HEAD.replace("d3 AS (", "d3 AS MATERIALIZED (").replace(
        "sets AS (", "sets AS MATERIALIZED ("
    )
    + _CONTAINMENT_STAGE_SQL.strip("\n")
    + "\n    tcnt AS"
    + _V3_TAIL.replace("d3", "d4")
)


@query("corpus_curation_v4", _CURATION_V4_ORACLE)
def corpus_curation_v4(spark, sf_dir):
    """v3 + containment dedup (r10 verdict #5): Gopher gate ->
    span/boilerplate removal -> decontamination -> MinHash-LSH
    Jaccard clusters -> CONTAINMENT subset-copy removal (the shorter
    text of each containment pair drops — it is the contained copy;
    operators/dedup.py::containment_dedup) -> temperature mixture ->
    split/shard. Without the new stage a snippet-in-article copy
    survives the whole pipeline: its Jaccard against the container is
    ~|A|/|B| (tiny) while its containment is ~1.0."""
    docs = t(spark, sf_dir, "documents")
    gated = docs.join(
        QM.gopher_rules(docs).filter("keep").select("doc_id"), "doc_id"
    )
    cleaned = (
        gated.select("doc_id", "source")
        .join(
            DD.span_dedup(gated, k=10, min_df=2).select(
                "doc_id", F.col("kept_text").alias("text")
            ),
            "doc_id",
        )
        .filter(F.length(F.trim("text")) > 0)
    )
    cleaned = cleaned.localCheckpoint()  # funnel waist (see v3)
    ev = cleaned.filter(F.col("doc_id") % 19 == 3)
    tr = cleaned.filter(F.col("doc_id") % 19 != 3)
    contaminated = (
        CONTAM.ngram_contamination(tr, ev, n=_CONTAM_N)
        .filter(F.col("eval_frac") >= 0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    d2 = tr.join(contaminated, "doc_id", "left_anti").localCheckpoint()
    # ONE shingle scan for the whole dedup tail (r11 verdict #5): the
    # LSH stage and the containment stage both shingle at k=3, and
    # d3 ⊂ d2, so the containment candidates derive from the SAME
    # cached per-doc shingle arrays filtered to the survivors —
    # without this the tokenize/transform pass over the post-gate
    # corpus runs twice. The cache is owned here and tied to the
    # returned frame below.
    sarr2 = DD.shingle_arrays(DD._spread(d2), "doc_id", "text", 3).cache()
    pairs = DD.minhash_lsh_dedup(
        spark, d2, n_bands=4, rows_per_band=3, threshold=0.5, sarr=sarr2
    )
    losers = (
        CCOMP.dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_root"))
        .select("doc_id")
    )
    # third funnel waist: the containment stage consumes d3 twice
    # (candidate generation + the length lookup) and the mixture
    # consumes d4
    d3 = d2.join(losers, "doc_id", "left_anti").localCheckpoint()
    sarr3 = sarr2.join(d3.select(F.col("doc_id").alias("id")), "id")
    # d3 is an in-memory checkpoint, so the containment stage's size
    # gate sees no file size and takes the SCALE path — and that is
    # the measured-right choice here, not just the safe default: an
    # r13 A/B plumbed the file-backed corpus estimate through
    # (flipping sf0.1 to the small full-array path that wins
    # standalone) and the pipeline got consistently SLOWER, 11.2–11.8
    # → 17.0–18.6 s over 4 interleaved reps in a clean-canary window.
    # In-pipeline the small path's uncached full-array aset re-runs
    # the sarr2⋈d3 subplan per verify side, which standalone's
    # file-scan aset never pays. Decided by measurement; revisit only
    # with a new A/B.
    cpairs = DD.containment_dedup(
        d3, k=3, threshold=0.9, max_df=20, sarr=sarr3
    )
    dlen = d3.select("doc_id", F.length("text").alias("len"))
    la = dlen.select(F.col("doc_id").alias("a_id"), F.col("len").alias("la"))
    lb = dlen.select(F.col("doc_id").alias("b_id"), F.col("len").alias("lb"))
    closers = (
        cpairs.join(la, "a_id")
        .join(lb, "b_id")
        .select(
            F.when(
                (F.col("la") < F.col("lb"))
                | ((F.col("la") == F.col("lb")) & (F.col("a_id") > F.col("b_id"))),
                F.col("a_id"),
            )
            .otherwise(F.col("b_id"))
            .alias("doc_id")
        )
        .distinct()
    )
    d4 = d3.join(closers, "doc_id", "left_anti")
    # fourth funnel waist (r13): `kept` feeds BOTH the split and the
    # shard branches of the final join, and unlike v3's (whose tail
    # hangs off the checkpointed d3) v4's tail re-derives the whole
    # containment verify + closers subtree per consumer — the plan
    # carried the dedup tail twice (1.6 MB formatted) and the verify
    # joins executed twice. Checkpointing the ~survivor-count result
    # of the mixture truncates both. Interleaved A/B at sf0.1:
    # 23.0→18.4 s / 18.6→13.2 s, identical output frame.
    kept = (
        SAMP.temperature_mixture(d4)
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_copies"))
        .localCheckpoint()
    )
    split = SAMP.hash_split(kept, val_frac=_SPLIT_FRAC)
    shards = SAMP.shard_assign(kept, n_shards=4, salt="shard").select(
        "doc_id", "shard"
    )
    from nerd_spark.operators.cacheutil import tie_unpersist

    # tie the dedup-tail caches (shared shingle arrays + cpairs'
    # candidate pin) to the RESULT: the containment pairs are consumed
    # lazily through `closers` at final materialization, and without
    # the transfer the pins die when cpairs' handle leaves this scope
    # and the candidate self-join recomputes uncached
    return tie_unpersist(
        split.join(shards, "doc_id").select(
            "doc_id", "source", "n_copies", "split", "shard"
        ),
        cpairs,
        pairs,
        sarr2,
    )


@query("corpus_curation_v3", _CURATION_V3_ORACLE)
def corpus_curation_v3(spark, sf_dir):
    """Round-6 flagship: the curation funnel rebuilt from this round's
    operators — Gopher heuristic gate -> C4-style span/boilerplate
    removal (downstream stages run on the CLEANED text) -> benchmark
    decontamination -> MinHash-LSH near-dup clusters (canonical
    survivor) -> temperature-balanced mixture (rates derived from the
    surviving corpus in-plan) -> train/val split + shard assignment.
    Same one-plan, hash-checked discipline as corpus_curation_v2;
    every stage is the individually-oracled scale path."""
    docs = t(spark, sf_dir, "documents")
    gated = docs.join(
        QM.gopher_rules(docs).filter("keep").select("doc_id"), "doc_id"
    )
    cleaned = (
        gated.select("doc_id", "source")
        .join(
            DD.span_dedup(gated, k=10, min_df=2).select(
                "doc_id", F.col("kept_text").alias("text")
            ),
            "doc_id",
        )
        .filter(F.length(F.trim("text")) > 0)
    )
    # second funnel waist (r8): ev/tr/the d2 anti-join all branch
    # off `cleaned`, so without this the gopher gate + span-dedup
    # shuffle re-execute 3x inside the d2 materialization job —
    # measured 5.8 -> 3.9 s for the whole funnel at 80x. UNCONDITIONAL
    # at every SF (unlike keywords' size-adaptive tf waist): the
    # funnel checkpoints also split one monolithic Catalyst plan —
    # quality regex + span-dedup subtrees duplicated per consumer —
    # into small jobs, and the measured sf0.1 cold effect is the
    # checkpoint WINNING 2x (v3 6.7 s vs 14.7 s bench-cold without).
    cleaned = cleaned.localCheckpoint()
    ev = cleaned.filter(F.col("doc_id") % 19 == 3)
    tr = cleaned.filter(F.col("doc_id") % 19 != 3)
    contaminated = (
        CONTAM.ngram_contamination(tr, ev, n=_CONTAM_N)
        .filter(F.col("eval_frac") >= 0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    # same funnel-waist materialization rationale as v2
    d2 = tr.join(contaminated, "doc_id", "left_anti").localCheckpoint()
    pairs = DD.minhash_lsh_dedup(
        spark, d2, n_bands=4, rows_per_band=3, threshold=0.5
    )
    losers = (
        CCOMP.dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_root"))
        .select("doc_id")
    )
    d3 = d2.join(losers, "doc_id", "left_anti")
    kept = (
        SAMP.temperature_mixture(d3)
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_copies"))
    )
    split = SAMP.hash_split(kept, val_frac=_SPLIT_FRAC)
    shards = SAMP.shard_assign(kept, n_shards=4, salt="shard").select(
        "doc_id", "shard"
    )
    return split.join(shards, "doc_id").select(
        "doc_id", "source", "n_copies", "split", "shard"
    )


_CURATION_ORACLE_TPL = """
    WITH RECURSIVE feat AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS BIGINT) AS n_punct,
             CAST(len(regexp_extract_all(text, '{STOPWORDS_RE}')) AS BIGINT) AS n_stop
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             -2.0 + 0.6 * ln(1.0 + n_tokens)
                  + -8.0 * (n_punct * 1.0 / greatest(n_chars, 1))
                  + 2.5 * (n_stop * 1.0 / greatest(n_tokens, 1))
                  + -0.3 * ((n_chars - n_tokens + 1) * 1.0 / greatest(n_tokens, 1))
               AS z
      FROM feat
    ),
    q AS (
      SELECT d.* FROM documents d JOIN z USING (doc_id)
      WHERE round(1.0 / (1.0 + exp(-z.z)), 6) >= 0.32
    ),
    qt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM q),
    ng AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(w) - {CN1}, 0)),
        i -> {CONTAM_GRAM}))) AS g
      FROM qt
    ),
    ev AS (SELECT doc_id, g FROM ng WHERE doc_id % 19 = 3),
    trn AS (SELECT doc_id, g FROM ng WHERE doc_id % 19 <> 3),
    evs AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY 1),
    hits AS (
      SELECT trn.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS shared
      FROM trn JOIN ev USING (g) GROUP BY 1, 2
    ),
    contam AS (
      SELECT DISTINCT train_id AS doc_id
      FROM hits JOIN evs ON evs.doc_id = hits.eval_id
      WHERE shared * 1.0 / evs.n >= 0.5
    ),
    d2 AS (
      SELECT q.* FROM q
      WHERE q.doc_id % 19 <> 3
        AND q.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    {BANDS_D2},
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM blong x JOIN blong y ON x.b = y.b AND x.h = y.h AND x.doc_id < y.doc_id
    ),
    {JACCARD_VERIFY},
    pairs AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.5),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    reach(node, r) AS (
        SELECT u, u FROM edges
      UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node
    ),
    cc AS (SELECT node, min(r) AS root FROM reach GROUP BY node),
    losers AS (SELECT node AS doc_id FROM cc WHERE node <> root),
    d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
    mixh AS (
      SELECT doc_id, source,
             {MIX_HASH} AS v
      FROM d3
    ),
    mixn AS (
      SELECT doc_id, source,
             CAST(floor({MIX_CASE}) AS BIGINT)
               + CASE WHEN v / 4294967296.0 < {MIX_CASE} - floor({MIX_CASE})
                      THEN 1 ELSE 0 END AS n_copies
      FROM mixh
    ),
    kept AS (SELECT doc_id, source, n_copies FROM mixn WHERE n_copies >= 1),
    sp AS (SELECT doc_id, {SPLIT_HASH} AS sv FROM kept),
    shn AS (SELECT doc_id, ({SHARD_HASH}) % 4 AS shard FROM kept)
    SELECT k.doc_id, k.source, k.n_copies,
           CASE WHEN sp.sv < {SPLIT_CUT} THEN 'val' ELSE 'train' END AS split,
           shn.shard
    FROM kept k JOIN sp USING (doc_id) JOIN shn USING (doc_id)
"""

_CURATION_ORACLE = _CURATION_ORACLE_TPL.format(
    STOPWORDS_RE=STOPWORDS_RE,
    CN1=_CONTAM_N - 1,
    CONTAM_GRAM=_CONTAM_GRAM,
    BANDS_D2=_MINHASH_BANDS.replace("FROM documents", "FROM d2").strip(),
    JACCARD_VERIFY=_JACCARD_VERIFY.strip().rstrip(),
    MIX_HASH=_hex8("md5('mix' || CAST(doc_id AS VARCHAR))", 1),
    MIX_CASE=_MIX_CASE,
    SPLIT_HASH=_hex8("md5(CAST(doc_id AS VARCHAR))", 1),
    SHARD_HASH=_hex8("md5('shard' || CAST(doc_id AS VARCHAR))", 1),
    SPLIT_CUT=_SPLIT_CUT,
)


@query("corpus_curation_v2", _CURATION_ORACLE)
def corpus_curation_v2(spark, sf_dir):
    """The LLM-pipeline story as one measured number: quality gate ->
    benchmark decontamination -> MinHash-LSH near-dup removal (keep
    each cluster's canonical root) -> domain-weighted mixture ->
    train/val split + shard assignment, all composed from the
    individually-oracled operators (reference for the funnel order:
    examples/curation_pipeline.py). Every stage is the scale path —
    map-only gates, banded LSH (never all-pairs), star-contraction
    clustering, hash-deterministic sampling — so the one number is
    the 100 TB shape, not a toy. Output: the surviving corpus with
    its per-doc mixture copy count, split, and shard."""
    docs = t(spark, sf_dir, "documents")
    q = (
        QM.quality_filter(docs, threshold=0.32)
        .filter("kept")
        .drop("q_score", "kept")
    )
    ev = q.filter(F.col("doc_id") % 19 == 3)
    tr = q.filter(F.col("doc_id") % 19 != 3)
    contaminated = (
        CONTAM.ngram_contamination(tr, ev, n=_CONTAM_N)
        .filter(F.col("eval_frac") >= 0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    # Materialize the funnel waist ONCE: d2 feeds three separate
    # actions (the LSH pair generator, the cluster resolver's
    # checkpoint, and the final assembly) — without this the quality
    # regexes and the decontamination n-gram join re-execute per
    # action (measured 25 s -> the sum of its stages). This is what
    # production curation does anyway: each funnel stage persists a
    # corpus version. On a cluster, .checkpoint()/a parquet write is
    # the fault-tolerant equivalent.
    d2 = tr.join(contaminated, "doc_id", "left_anti").localCheckpoint()
    pairs = DD.minhash_lsh_dedup(
        spark, d2, n_bands=4, rows_per_band=3, threshold=0.5
    )
    losers = (
        CCOMP.dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_root"))
        .select("doc_id")
    )
    d3 = d2.join(losers, "doc_id", "left_anti")
    kept = (
        SAMP.mixture_sample(d3, rates=_MIX_RATES, salt="mix")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_copies"))
    )
    split = SAMP.hash_split(kept, val_frac=_SPLIT_FRAC)
    shards = SAMP.shard_assign(kept, n_shards=4, salt="shard").select(
        "doc_id", "shard"
    )
    return split.join(shards, "doc_id").select(
        "doc_id", "source", "n_copies", "split", "shard"
    )


def corpus_curation_v3_stages(spark, sf_dir) -> dict[str, float]:
    """Per-stage wall times for the v3 funnel (same discipline as
    corpus_curation_v2_stages — bench.py records both)."""
    import time

    docs = t(spark, sf_dir, "documents")
    out: dict[str, float] = {}

    def _timed(name, df):
        t0 = time.perf_counter()
        got = df.localCheckpoint()
        out[name] = round(time.perf_counter() - t0, 3)
        return got

    gated = _timed(
        "gopher_gate",
        docs.join(QM.gopher_rules(docs).filter("keep").select("doc_id"), "doc_id"),
    )
    cleaned = _timed(
        "span_removal",
        gated.select("doc_id", "source")
        .join(
            DD.span_dedup(gated, k=10, min_df=2).select(
                "doc_id", F.col("kept_text").alias("text")
            ),
            "doc_id",
        )
        .filter(F.length(F.trim("text")) > 0),
    )
    ev = cleaned.filter(F.col("doc_id") % 19 == 3)
    tr = cleaned.filter(F.col("doc_id") % 19 != 3)
    contaminated = _timed(
        "decontamination",
        CONTAM.ngram_contamination(tr, ev, n=_CONTAM_N)
        .filter(F.col("eval_frac") >= 0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct(),
    )
    d2 = _timed("contam_filter", tr.join(contaminated, "doc_id", "left_anti"))
    pairs = _timed(
        "lsh_pairs",
        DD.minhash_lsh_dedup(spark, d2, n_bands=4, rows_per_band=3, threshold=0.5),
    )
    losers = _timed(
        "clusters",
        CCOMP.dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_root"))
        .select("doc_id"),
    )
    d3 = d2.join(losers, "doc_id", "left_anti")
    kept = _timed(
        "temperature_mixture",
        SAMP.temperature_mixture(d3)
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_copies")),
    )
    t0 = time.perf_counter()
    split = SAMP.hash_split(kept, val_frac=_SPLIT_FRAC)
    shards = SAMP.shard_assign(kept, n_shards=4, salt="shard").select(
        "doc_id", "shard"
    )
    split.join(shards, "doc_id").select(
        "doc_id", "source", "n_copies", "split", "shard"
    ).write.format("noop").mode("overwrite").save()
    out["split_shard"] = round(time.perf_counter() - t0, 3)
    return out


def corpus_curation_v2_stages(spark, sf_dir) -> dict[str, float]:
    """Per-stage wall times for the curation funnel — NOT a registered
    query; bench.py runs it so the one flagship number localizes
    regressions. Each stage materializes (localCheckpoint) before the
    clock stops, so a stage's time is its own cost, not its upstream's
    (the sum modestly exceeds the fused one-number run, which shares
    scans across stages)."""
    import time

    docs = t(spark, sf_dir, "documents")
    out: dict[str, float] = {}

    def _timed(name, df):
        t0 = time.perf_counter()
        got = df.localCheckpoint()
        out[name] = round(time.perf_counter() - t0, 3)
        return got

    q = _timed(
        "quality_gate",
        QM.quality_filter(docs, threshold=0.32).filter("kept").drop("q_score", "kept"),
    )
    ev = q.filter(F.col("doc_id") % 19 == 3)
    tr = q.filter(F.col("doc_id") % 19 != 3)
    contaminated = _timed(
        "decontamination",
        CONTAM.ngram_contamination(tr, ev, n=_CONTAM_N)
        .filter(F.col("eval_frac") >= 0.5)
        .select(F.col("train_id").alias("doc_id"))
        .distinct(),
    )
    d2 = _timed("contam_filter", tr.join(contaminated, "doc_id", "left_anti"))
    pairs = _timed(
        "lsh_pairs",
        DD.minhash_lsh_dedup(spark, d2, n_bands=4, rows_per_band=3, threshold=0.5),
    )
    losers = _timed(
        "clusters",
        CCOMP.dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_root"))
        .select("doc_id"),
    )
    d3 = d2.join(losers, "doc_id", "left_anti")
    kept = _timed(
        "mixture",
        SAMP.mixture_sample(d3, rates=_MIX_RATES, salt="mix")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_copies")),
    )
    t0 = time.perf_counter()
    split = SAMP.hash_split(kept, val_frac=_SPLIT_FRAC)
    shards = SAMP.shard_assign(kept, n_shards=4, salt="shard").select(
        "doc_id", "shard"
    )
    split.join(shards, "doc_id").select(
        "doc_id", "source", "n_copies", "split", "shard"
    ).write.format("noop").mode("overwrite").save()
    out["split_shard"] = round(time.perf_counter() - t0, 3)
    return out


@query(
    "weighted_sample_topk",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(length(text) % 97 + 1 AS DOUBLE) AS wt
      FROM documents
    ),
    h AS (
      SELECT doc_id, source, wt,
             ({_hex8("md5('ws' || CAST(doc_id AS VARCHAR))", 1)} + 0.5)
               / 4294967296.0 AS u
      FROM w
    ),
    keyed AS (
      SELECT doc_id, source, wt, round(ln(u) / wt, 6) AS skey FROM h
    ),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY skey DESC, doc_id) AS rnk
      FROM keyed
    )
    SELECT doc_id, source, wt, skey FROM r WHERE rnk <= 10
    """,
)
def weighted_sample_topk(spark, sf_dir):
    # Quality-weighted corpus selection (operators/sampling.py::
    # weighted_sample, Efraimidis-Spirakis A-ES): keep the 10
    # highest-drawn docs per source, inclusion probability
    # proportional to a per-doc weight (here a deterministic
    # text-length proxy standing in for a quality-model score).
    # Exactly-k without replacement — what mixture_sample's
    # expected-rate thinning can't promise.
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.length("text") % 97 + 1).cast("double").alias("wt"),
    )
    return SAMP.weighted_sample(
        docs, weight_col="wt", k=10, strata_col="source", salt="ws"
    )


@query(
    "corpus_drift_psi",
    """
    WITH ref AS (SELECT value AS v FROM events
                 WHERE value IS NOT NULL AND event_id % 2 = 0),
    nw AS (SELECT value AS v FROM events
           WHERE value IS NOT NULL AND event_id % 2 = 1),
    st AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM ref),
    params AS (
      SELECT lo,
             CASE WHEN (hi - lo) / 10.0 <= 0 THEN 1.0
                  ELSE (hi - lo) / 10.0 END AS w,
             n
      FROM st
    ),
    nb AS (SELECT count(*) AS n_new FROM nw),
    bk AS (SELECT range AS bucket FROM range(10)),
    ha AS (
      SELECT least(9, greatest(0, CAST(floor((v - lo) / w) AS BIGINT))) AS b,
             count(*) AS c
      FROM ref, params GROUP BY 1
    ),
    hb AS (
      SELECT least(9, greatest(0, CAST(floor((v - lo) / w) AS BIGINT))) AS b,
             count(*) AS c
      FROM nw, params GROUP BY 1
    ),
    j AS (
      SELECT bucket,
             greatest(1e-6, coalesce(ha.c, 0)
               / (SELECT CAST(n AS DOUBLE) FROM params)) AS p,
             greatest(1e-6, coalesce(hb.c, 0)
               / (SELECT CAST(greatest(n_new, 1) AS DOUBLE) FROM nb)) AS q
      FROM bk LEFT JOIN ha ON bucket = ha.b LEFT JOIN hb ON bucket = hb.b
    )
    SELECT (SELECT n FROM params) AS n_ref,
           (SELECT n_new FROM nb) AS n_new,
           round(sum((p - q) * ln(p / q)), 6) AS psi,
           round(sum((p * ln(p / ((p + q) / 2))
                      + q * ln(q / ((p + q) / 2))) / 2), 6) AS js_div
    FROM j
    """,
)
def corpus_drift_psi(spark, sf_dir):
    # Snapshot distribution drift (operators/drift.py): PSI + JS
    # divergence of the odd-event_id half of events.value against the
    # even half over reference-anchored fixed-width buckets — the
    # ingest-monitoring primitive next to the dedup/quality gates
    # (the IVF-PQ audit showed shift, not volume, is what degrades
    # frozen models). Two column-pruned scans; nothing wider than
    # n_buckets rows ever shuffles.
    from nerd_spark.operators.drift import distribution_drift

    ev = t(spark, sf_dir, "events")
    return distribution_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
    )


@query(
    "corpus_novelty",
    r"""
    WITH tr AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE doc_id % 2 = 0
    ),
    shr AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(w) - 2, 0)),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM tr
    ),
    tn AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents WHERE doc_id % 2 = 1
    ),
    shn AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(w) - 2, 0)),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s
      FROM tn
    ),
    nv AS (SELECT count(*) AS novel FROM (
      SELECT s FROM shn EXCEPT SELECT s FROM shr
    ))
    SELECT (SELECT count(*) FROM shr) AS n_ref_shingles,
           (SELECT count(*) FROM shn) AS n_new_shingles,
           (SELECT novel FROM nv) AS novel_shingles,
           round((SELECT novel FROM nv)
                 / greatest((SELECT count(*) FROM shn), 1), 6)
             AS novelty_rate
    """,
)
def corpus_novelty(spark, sf_dir):
    # Cross-snapshot content freshness (operators/drift.py::
    # shingle_novelty): fraction of the odd-doc_id half's distinct
    # 3-word shingles unseen in the even half — numeric drift says a
    # feature moved, novelty says the CONTENT did. Distinct-shingle-
    # bounded anti join, the dedup family's cost class; shingling is
    # the map-only shingle_arrays so oracle parity is inherited from
    # the minhash oracles.
    from nerd_spark.operators.drift import shingle_novelty

    docs = t(spark, sf_dir, "documents")
    return shingle_novelty(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )

"""Interleaved same-session A/B for named query shapes — the committed
discipline for closing "is it box noise or a real regression?" questions
(VERDICT r07 item 2, r08 contraction walls).

Each round builds FRESH frames for every variant (fresh lineage — no
cross-run shuffle reuse), interleaves A/B/A/B within the round, and
times with the bench.py protocol (``runner.run_gate``, which also
releases each run's pins): wall = build + plan + execute of the
checksum collect; exec = execute only. Reports best-of-N and
the full series. One JSON line to stdout; pass --out to also write a
replay artifact.

Usage:
  python tools/ab_bench.py <suite> [--rounds 5] [--sf DIR] [--out FILE]

Suites live in AB_SUITES below: name -> dict of variant -> builder.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ubdc_airbnb_spark.runner import run_gate  # noqa: E402


# --- variant builders -------------------------------------------------

def _naive_minhash_lsh(spark, docs, sf_dir):
    from ubdc_airbnb_spark.operators import dedup

    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 16, 3, "word")
    return dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 4)


def _contracted_minhash_lsh(spark, docs, sf_dir):
    from ubdc_airbnb_spark.operators import dedup

    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", 16, 4, 3, "word")


def _naive_jaccard(spark, docs, sf_dir):
    from ubdc_airbnb_spark.functions import textstats

    pairs = _naive_minhash_lsh(spark, docs, None)
    return spark.sql(
        f"""
        WITH grams AS (
          SELECT doc_id, array_distinct({textstats.word_ngrams_expr('`text`', 3)}) AS g
          FROM {{docs}}),
        scored AS (
          SELECT /*+ BROADCAST(ga), BROADCAST(gb) */ p.id_a, p.id_b,
                 size(array_intersect(ga.g, gb.g)) AS inter,
                 size(ga.g)+size(gb.g)-size(array_intersect(ga.g, gb.g)) AS union_n
          FROM {{pairs}} p
          JOIN grams ga ON ga.doc_id = p.id_a
          JOIN grams gb ON gb.doc_id = p.id_b)
        SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
               CAST(union_n AS BIGINT) AS union_n
        FROM scored WHERE inter * 10 >= union_n * 3
        """,
        docs=docs,
        pairs=pairs,
    )


def _contracted_jaccard(spark, docs, sf_dir):
    from ubdc_airbnb_spark.operators import dedup

    return dedup.lsh_jaccard_pairs(docs, "doc_id", "text", 16, 4, 3, 0.3)


def _old_lang_margin(spark, docs, sf_dir):
    from ubdc_airbnb_spark.functions import textstats

    arr = F.array_sort(
        F.array(*[textstats.trigram_hits("text", lang) for lang in ("en", "de", "fr", "es")])
    )
    top1 = F.element_at(arr, 4).cast("long")
    top2 = F.element_at(arr, 3).cast("long")
    return docs.select(
        "doc_id", top1.alias("hits_top1"), top2.alias("hits_top2"),
        (top1 - top2).alias("margin"),
    )


def _old_lang_ngram(spark, docs, sf_dir):
    from ubdc_airbnb_spark.functions import textstats
    from ubdc_airbnb_spark.functions.textstats import LANG_TRIGRAMS

    counts = {lang: textstats.trigram_hits("text", lang) for lang in LANG_TRIGRAMS}
    best = F.greatest(*counts.values())
    result = F.lit("und")
    for lang in reversed(list(LANG_TRIGRAMS)):
        result = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(result)
    return docs.select("doc_id", "lang", result.alias("pred_lang"))


def _old_lang_id(spark, docs, sf_dir):
    from ubdc_airbnb_spark.functions import textstats
    from ubdc_airbnb_spark.functions.textstats import LANG_MARKERS

    counts = {lang: textstats.lang_marker_count("text", lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    result = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        result = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(result)
    return docs.select("doc_id", "lang", result.alias("pred_lang"))


def _gate(name):
    """A registry gate as an A/B variant (measures the exact bench
    shape). Used for variance suites: when the compared codepaths are
    IDENTICAL across rounds (git-diff-proven), the honest artifact is a
    same-session repeated measure, not a fake A/B."""

    def run(spark, docs, sf_dir):
        from ubdc_airbnb_spark import queries as q_mod

        spec = next(s for s in q_mod.registry() if s.name == name)
        return spec.spark(spark, sf_dir)

    return run


def _jaccard_variant(**kw):
    def run(spark, docs, sf_dir):
        from ubdc_airbnb_spark.operators import dedup

        return dedup.lsh_jaccard_pairs(docs, "doc_id", "text", 16, 4, 3, 0.3, **kw)

    return run


def _jaccard_aqe_off(spark, docs, sf_dir):
    # AQE toggled at build time; the timed collect follows immediately
    # in the A/B loop, and every other variant builder re-enables it
    from ubdc_airbnb_spark.operators import dedup

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return dedup.lsh_jaccard_pairs(docs, "doc_id", "text", 16, 4, 3, 0.3)


def _with_aqe_on(fn):
    def run(spark, docs, sf_dir):
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        return fn(spark, docs, sf_dir)

    return run


# --- r12 rewrite A/B: the r11 shapes reconstructed inline ------------

def _spans_old(spark, docs, sf_dir):
    """r11 duplicate_spans: gram election via GROUP BY + join-back
    (re-derives every positional gram a second time)."""
    from ubdc_airbnb_spark.functions.psql import psql
    from ubdc_airbnb_spark.functions.textstats import (
        word_ngrams_arr_expr,
        words_expr,
    )

    k = 5
    ws = words_expr("lower(`text`)")
    grams = word_ngrams_arr_expr("__ws", k)
    return psql(
        f"""
        WITH base AS (
          SELECT `doc_id` AS __id, {ws} AS __ws FROM {{docs}}
        ),
        hits AS (
          SELECT __id, pos, gram
          FROM base LATERAL VIEW posexplode({grams}) AS pos, gram
        ),
        dup AS (SELECT gram FROM hits GROUP BY gram HAVING COUNT(*) >= 2),
        dh AS (SELECT /*+ SHUFFLE_HASH(d) */ h.__id, h.pos
               FROM hits h JOIN dup d ON h.gram = d.gram),
        marked AS (
          SELECT __id, pos,
                 CASE WHEN MAX(pos + {k - 1}) OVER w_prev IS NULL
                        OR pos > MAX(pos + {k - 1}) OVER w_prev + 1
                      THEN 1 ELSE 0 END AS is_new
          FROM dh
          WINDOW w_prev AS (PARTITION BY __id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        ),
        spans AS (
          SELECT __id, span_id, MIN(pos) AS s, MAX(pos) + {k - 1} AS e
          FROM (SELECT __id, pos,
                       SUM(is_new) OVER (PARTITION BY __id ORDER BY pos
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS span_id
                FROM marked)
          GROUP BY __id, span_id
        ),
        merged AS (
          SELECT __id, CAST(size(__ws) AS BIGINT) AS n_tokens,
                 CAST(0 AS BIGINT) AS one_span, CAST(0 AS BIGINT) AS span_toks
          FROM base
          UNION ALL
          SELECT __id, CAST(0 AS BIGINT), CAST(1 AS BIGINT),
                 CAST(e - s + 1 AS BIGINT)
          FROM spans
        )
        SELECT __id AS `doc_id`,
               MAX(n_tokens) AS n_tokens,
               CAST(SUM(one_span) AS BIGINT) AS n_spans,
               CAST(SUM(span_toks) AS BIGINT) AS dup_tokens,
               CASE WHEN MAX(n_tokens) > 0
                    THEN CAST(SUM(span_toks) AS DOUBLE)
                         / CAST(MAX(n_tokens) AS DOUBLE)
                    ELSE 0.0 END AS dup_frac
        FROM merged GROUP BY __id
        """,
        docs=docs,
    )


def _lm_old(spark, docs, sf_dir):
    """r11 score_documents: per-occurrence stream joined to bc then
    RE-SHUFFLED on w1 to attach cc (two corpus-sized exchanges)."""
    from ubdc_airbnb_spark.functions.textstats import words_expr
    from ubdc_airbnb_spark.operators.lm import bigram_model, doc_bigrams
    from ubdc_airbnb_spark.operators.prefixsum import _pin

    grams = _pin(doc_bigrams(docs, "doc_id", "text"))
    bc, cc = bigram_model(grams)
    vsz = docs.selectExpr(
        f"explode({words_expr('lower(`text`)')}) AS w"
    ).agg(F.countDistinct("w").alias("vsz"))
    scored = (
        grams.join(bc.hint("shuffle_hash"), "bigram")
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(cc.hint("shuffle_hash"), "w1")
        .join(F.broadcast(vsz))
        .withColumn(
            "p",
            (F.col("c12") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("vsz")).cast("double"),
        )
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.floor(F.col("p") * F.lit(1e9)).cast("long")).alias("sum_ppb"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        (
            (F.col("sum_ppb").cast("double") / F.lit(1e9))
            / F.col("n_bigrams").cast("double")
        ).alias("avg_cond_p"),
    )


def _recall_old(spark, docs, sf_dir):
    """r11 lsh_recall_eval: unhinted candidate band join (planner
    broadcasts the sample => sig pipeline computed twice) + truth branch
    with a separate sizes aggregate and two size joins (gram set derived
    three times)."""
    from ubdc_airbnb_spark.functions.psql import psql
    from ubdc_airbnb_spark.functions.textstats import (
        word_ngrams_arr_expr,
        words_expr,
    )
    from ubdc_airbnb_spark.operators import dedup
    from ubdc_airbnb_spark.operators.sampling import _M, hash_bucket

    n = dedup._corpus_rows(docs)
    thr = min(_M, max(1, (2500 * _M) // max(n, 1)))
    samp = docs.filter(hash_bucket(F.col("doc_id").cast("string"), "lshrecall") < thr)
    sigs = dedup.minhash_signatures(samp, "doc_id", "text", 16, 3, shingle="word")
    band_sql = ",".join(dedup._band_key_terms(16, 4))
    cand = psql(
        f"""
        WITH banded AS (
          SELECT `doc_id`, posexplode(array({band_sql})) AS (band_id, band_key)
          FROM {{sigs}}
        )
        SELECT DISTINCT a.`doc_id` AS id_a, b.`doc_id` AS id_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.`doc_id` < b.`doc_id`
        """,
        sigs=sigs,
    ).select("id_a", "id_b")
    return psql(
        f"""
        WITH t AS (
          SELECT `doc_id` AS id, {words_expr('`text`')} AS __toks FROM {{samp}}
        ),
        g AS (
          SELECT id,
                 explode(array_distinct({word_ngrams_arr_expr('`__toks`', 3)})) AS gram
          FROM t
        ),
        sizes AS (SELECT id, COUNT(*) AS n_grams FROM g GROUP BY id),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
          FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id
          GROUP BY a.id, b.id
        ),
        truth AS (
          SELECT id_a, id_b FROM inter
          JOIN (SELECT id AS id_a, n_grams AS n_a FROM sizes) USING (id_a)
          JOIN (SELECT id AS id_b, n_grams AS n_b FROM sizes) USING (id_b)
          WHERE inter * 10 >= (n_a + n_b - inter) * 3
        ),
        j AS (
          SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 END AS t,
                 CASE WHEN c.id_a IS NOT NULL THEN 1 END AS c
          FROM truth t FULL OUTER JOIN {{cand}} c
            ON t.id_a = c.id_a AND t.id_b = c.id_b
        )
        SELECT CAST(SUM(coalesce(t, 0)) AS BIGINT) AS n_truth,
               CAST(SUM(coalesce(c, 0)) AS BIGINT) AS n_cand,
               CAST(SUM(CASE WHEN t IS NOT NULL AND c IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM j
        """,
        samp=samp,
        cand=cand,
    )


AB_SUITES = {
    "minhash_contraction": {
        "lsh_naive": _naive_minhash_lsh,
        "lsh_contracted": _contracted_minhash_lsh,
        "jaccard_naive": _naive_jaccard,
        "jaccard_contracted": _contracted_jaccard,
    },
    # BENCH_r07 vs r06 flagged these three as regressed (+75%/+45%/+20%)
    # but their code paths are byte-identical r06→r07 (git diff 05d5ac2
    # cf73946 touches neither multimodal/, bpe, nor the recall gate) —
    # this suite records the same-session variance band that the
    # driver's one-shot artifact samples from.
    "driver_trio": {
        "mm_decode_png": _gate("mm_decode_png"),
        "ns_bpe_pair_counts": _gate("ns_bpe_pair_counts"),
        "ns_lsh_recall": _gate("ns_lsh_recall"),
    },
    # r08 lang-ID rework: the old shapes rebuilt the gram/word array per
    # language (HOF lambdas are invisible to codegen subexpression
    # elimination); the new shapes lambda-bind it once. Run at sf1
    # (--sf /tmp/scale_sf1, regenerate via tools/scale_smoke.py) where
    # the per-doc constant dominates.
    "lang_id": {
        "margin_old": _old_lang_margin,
        "margin_new": _gate("ns_lang_id_margin"),
        "ngram_old": _old_lang_ngram,
        "ngram_new": _gate("ns_lang_id_ngram"),
        "stopword_old": _old_lang_id,
        "stopword_new": _gate("ns_lang_id"),
    },
    # r09 item 4: the slowest headline gate's verify-join strategies —
    # run at sf0.1 AND sf1 (--sf /tmp/scale_sf1). shuffle_hash is the
    # committed scale-safe default; broadcast is the known-small-reps
    # escape hatch; prefiltered shrinks the gram side to candidate reps
    # at the cost of re-traversing the band join; aqe_off isolates
    # adaptive re-planning overhead on the contracted multi-stage plan.
    "jaccard_verify": {
        "shuffle_hash": _with_aqe_on(_jaccard_variant()),
        "broadcast": _with_aqe_on(_jaccard_variant(verify_broadcast=True)),
        "prefiltered": _with_aqe_on(_jaccard_variant(prefilter_grams=True)),
        "aqe_off": _jaccard_aqe_off,
    },
    # r12 rewrites, old shape (reconstructed inline from the r11 source)
    # vs the new gate — interleaved within one session (guide §1).
    "r12_rewrites": {
        "spans_old": _spans_old,
        "spans_new": _gate("ns_dedup_spans"),
        "lm_old": _lm_old,
        "lm_new": _gate("ns_bigram_lm"),
        "recall_old": _recall_old,
        "recall_new": _gate("ns_lsh_recall"),
    },
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("suite", choices=sorted(AB_SUITES))
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out")
    args = ap.parse_args()

    from ubdc_airbnb_spark.session import get_spark
    from ubdc_airbnb_spark.sources.tables import load_table

    spark = get_spark(f"ab-{args.suite}")
    docs = load_table(spark, args.sf, "documents")
    variants = AB_SUITES[args.suite]

    builds = {name: partial(fn, spark, docs, args.sf) for name, fn in variants.items()}

    # warm: one full pass per variant (codegen, JIT, page cache)
    for build in builds.values():
        run_gate(build)

    series: dict[str, dict[str, list[float]]] = {
        k: {"wall": [], "exec": []} for k in variants
    }
    for _ in range(args.rounds):
        for name, build in builds.items():
            r = run_gate(build)
            series[name]["wall"].append(round(r["build_s"] + r["plan_s"] + r["exec_s"], 3))
            series[name]["exec"].append(round(r["exec_s"], 3))
    out = {
        "suite": args.suite,
        "sf": args.sf,
        "rounds": args.rounds,
        "best": {
            k: {m: min(v[m]) for m in v} for k, v in series.items()
        },
        "series": series,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()

"""Scale probe for the part-5 text ops — paragraph_dedup_refinedweb,
seqpack_offsets, decontaminate_eval_overlap — at N synthetic documents
(default 1M). The probe synthesizes a documents.parquet with the
driver-table schema in /tmp (pure column math: 50 hash-picked words
per doc from a 20-word vocab, plus a SHARED 10-word chunk injected
into every 10th doc so the dedup window sees a genuinely hot paragraph
key of N/10 copies), then drives the REAL registered queries against
it and checks closed-form invariants:

- paragraph dedup: every doc emits 6 chunks (the query prepends its
  10-word boilerplate to the 50 synthesized words), Σ n_kept ==
  distinct-paragraph count (each distinct paragraph survives exactly
  once), and the boilerplate + hot chunks dedup to single survivors.
- seqpack: cum totals — max(last_seq) == (Σ tokens - 1) // 256 and
  Σ n_tokens == 50 N — the distributed two-level prefix sum agrees
  with the closed form.
- decontamination: every eval-origin doc (doc_id % 50 == 0) is
  contaminated (it contains its own snippet).
- data mixing (part 6): output rows == Σ n_copies by construction of
  the explode; every weight-1.0 source doc emits exactly one copy;
  weight-2.5 docs emit 2 or 3; the total lands within 1% of the exact
  expected mean Σ_docs weight (the md5 draw is uniform — at 1M docs
  the binomial std is ~0.05%).
- quality classifier (part 6): one row per doc, Σ n_words == 50 N,
  every score within the ±6·n_words weight bound.
- importance weighting (part 7): rows == N, Σ n_words == 50 N, and the
  exact identity Σ_docs score == Σ_b raw_b·w(b) recomputed through an
  independent explode+join route.
- BPE pair counts (part 7): 20 ranked rows, counts non-increasing,
  doc frequency ≤ count ≤ N, #1 count == independent global max.
- exact-substring spans (part 8): at N ≥ 100k the 20-word vocab makes
  every 4-gram occur far more than once (λ = 50N/160k ≥ 30 expected
  copies), so the closed form is total saturation — every doc exactly
  one merged span covering all 50 words, dup_frac == 1.0.
- LM familiarity (part 8): at N ≥ 100k every bigram is covered by the
  doc_id%10 reference split (matched == n_bigrams corpus-wide,
  Σ n_bigrams == 49N), and the exact global identity Σ_docs ref_mass
  == Σ_g corpus_cnt(g)·ref_cnt(g) recomputed through an independent
  two-groupBy join route.
- BPE merge application (part 8): rows == N, Σ n_tokens_before == 50N,
  and a 200-doc sample re-derives every merged string + merge count
  through an independent pure-Python left-to-right scan.
- tf-idf top terms (part 8): ≤ 3 rows per doc, and a 200-doc sample
  re-derives the exact (term, tf, df, score) ranking from the corpus
  df map.
- URL dedup (part 8): Σ n_docs == N, every canonical URL is
  scheme/www/query-free, and keep_id == min doc id of its group (a
  200-group sample re-derived independently).

Usage: python scripts/textops_scale_probe.py [N]   (default 1000000)
Writes BENCH/textops_probe.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapshaper_spark import queries as Q
from mapshaper_spark.session import get_spark

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch window "
    "spark order data column join small line"
).split()
HOT = "the quick brown fox jumps over the lazy dog again"  # 10 words


def synth_documents(spark, n: int, path: str) -> None:
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    base = (
        f"concat_ws(' ', transform(sequence(0, 49), j -> "
        f"element_at(array({vocab}), CAST(pmod(hash(id, j), 20) AS INT) + 1)))"
    )
    # every 10th doc: words 20-29 replaced by the HOT shared chunk,
    # splicing at word boundaries so the chunk lands chunk-ALIGNED
    # after the query's own 10-word boilerplate prefix
    words = (
        f"CASE WHEN id % 10 = 0 THEN concat_ws(' ', "
        f"array_join(slice(split({base}, ' '), 1, 20), ' '), '{HOT}', "
        f"array_join(slice(split({base}, ' '), 31, 20), ' ')) "
        f"ELSE {base} END"
    )
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.expr(words).alias("text"),
        F.lit("en").alias("lang"),
        F.expr("concat('src', CAST(id % 97 AS STRING))").alias("source"),
    )
    df = df.withColumn("n_chars", F.length("text"))
    df.write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))


def run(spark, n: int, tmp: str) -> dict:
    out: dict = {"n_docs": n}
    synth_documents(spark, n, tmp)

    t0 = time.time()
    pd_df = Q.QUERIES["paragraph_dedup_refinedweb"](spark, tmp)
    agg = pd_df.agg(
        F.count("*").alias("rows"),
        F.sum("n_paras").alias("paras"),
        F.sum("n_kept").alias("kept"),
    ).first()
    out["paragraph_dedup_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n, agg
    assert agg.paras == 6 * n, agg  # 10 boiler + 50 synth words = 6 chunks
    out["paragraph_dedup_docs_per_sec"] = int(n / max(out["paragraph_dedup_sec"], 1e-9))
    out["paras_total"] = int(agg.paras)
    out["paras_kept"] = int(agg.kept)
    # each distinct paragraph survives exactly once
    distinct_paras = (
        Q.testdata.load(spark, tmp, "documents")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, (size(split(concat("
                    f"'{Q._PARA_BOILER} ', text), ' ')) + 9) DIV 10 - 1),"
                    " i -> array_join(slice(split(concat("
                    f"'{Q._PARA_BOILER} ', text), ' '), i*10+1, 10), ' '))"
                )
            ).alias("p")
        )
        .agg(F.countDistinct("p"))
        .first()[0]
    )
    assert agg.kept == distinct_paras, (agg.kept, distinct_paras)
    out["paras_distinct"] = int(distinct_paras)

    t0 = time.time()
    sp = Q.QUERIES["seqpack_offsets"](spark, tmp)
    agg = sp.agg(
        F.sum("n_tokens").alias("tok"), F.max("last_seq").alias("last")
    ).first()
    out["seqpack_sec"] = round(time.time() - t0, 2)
    # raw docs carry 50 words (the boilerplate exists only inside the
    # paragraph-dedup query's own augmentation)
    assert agg.tok == 50 * n, agg
    assert agg.last == (agg.tok - 1) // 256, agg
    out["seqpack_docs_per_sec"] = int(n / max(out["seqpack_sec"], 1e-9))

    t0 = time.time()
    dc = Q.QUERIES["decontaminate_eval_overlap"](spark, tmp)
    agg = dc.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("contaminated").cast("int")).alias("bad"),
        F.sum(
            F.when((F.col("doc_id") % 50 == 0) & ~F.col("contaminated"), 1).otherwise(0)
        ).alias("missed_origins"),
    ).first()
    out["decontaminate_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n and agg.missed_origins == 0, agg
    out["decontaminate_docs_per_sec"] = int(n / max(out["decontaminate_sec"], 1e-9))
    out["contaminated_docs"] = int(agg.bad)

    # data mixing: sources are src0..src96 uniform; configured weights
    # src0=2.5, src1=1.0, src2=0.25, default 0.5
    t0 = time.time()
    mx = Q.QUERIES["data_mixing_sample"](spark, tmp)
    agg = mx.agg(
        F.count("*").alias("rows"),
        F.sum(
            F.when(
                (F.col("source") == "src1")
                & ((F.col("n_copies") != 1) | (F.col("copy_idx") != 1)),
                1,
            ).otherwise(0)
        ).alias("bad_w1"),
        F.sum(
            F.when(
                (F.col("source") == "src0")
                & (~F.col("n_copies").isin(2, 3)),
                1,
            ).otherwise(0)
        ).alias("bad_w25"),
    ).first()
    out["data_mixing_sec"] = round(time.time() - t0, 2)
    assert agg.bad_w1 == 0 and agg.bad_w25 == 0, agg
    n_src = {s: n // 97 + (1 if s < n % 97 else 0) for s in range(97)}
    expected = (
        2.5 * n_src[0]
        + 1.0 * n_src[1]
        + 0.25 * n_src[2]
        + 0.5 * (n - n_src[0] - n_src[1] - n_src[2])
    )
    assert abs(agg.rows - expected) <= max(0.01 * expected, 8.0), (
        agg.rows,
        expected,
    )
    out["data_mixing_rows"] = int(agg.rows)
    out["data_mixing_expected"] = int(expected)
    out["data_mixing_docs_per_sec"] = int(n / max(out["data_mixing_sec"], 1e-9))

    t0 = time.time()
    qc = Q.QUERIES["quality_classifier_score"](spark, tmp)
    agg = qc.agg(
        F.count("*").alias("rows"),
        F.sum("n_words").alias("words"),
        F.sum(
            F.when(F.abs(F.col("score")) > 6 * F.col("n_words"), 1).otherwise(0)
        ).alias("oob"),
        F.sum(F.col("keep").cast("int")).alias("kept"),
    ).first()
    out["quality_classifier_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n and agg.words == 50 * n and agg.oob == 0, agg
    out["quality_classifier_kept"] = int(agg.kept)
    out["quality_classifier_docs_per_sec"] = int(
        n / max(out["quality_classifier_sec"], 1e-9)
    )

    # importance weighting (part 7): rows == n, Σ n_words == 50 N, and
    # the exact global identity Σ_docs score == Σ_b raw_b · w(b) — the
    # right side recomputed through the probe's own explode+join route
    # (a different expression tree than the query's broadcast-map
    # lookup; both must land on the same BIGINT).
    t0 = time.time()
    iw = Q.QUERIES["importance_weights_hashed"](spark, tmp)
    agg = iw.agg(
        F.count("*").alias("rows"),
        F.sum("n_words").alias("words"),
        F.sum("score").alias("total"),
    ).first()
    out["importance_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n and agg.words == 50 * n, agg
    tb = (
        Q.testdata.load(spark, tmp, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("x"))
        .select("source", F.expr(Q._DSIR_BUCKET).alias("b"))
    )
    cnt = tb.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_b"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("bigint")
        .alias("tgt_b"),
    )
    check = (
        cnt.crossJoin(
            cnt.agg(
                F.sum("raw_b").alias("rt"), F.sum("tgt_b").alias("tt")
            )
        )
        .select(
            F.sum(
                F.col("raw_b")
                * (F.col("tgt_b") * F.col("rt") - F.col("raw_b") * F.col("tt"))
            ).alias("total")
        )
        .first()
    )
    assert agg.total == check.total, (agg.total, check.total)
    out["importance_total_score"] = int(agg.total)
    out["importance_docs_per_sec"] = int(n / max(out["importance_sec"], 1e-9))

    # BPE pair counts (part 7): exactly 20 ranked rows, counts
    # non-increasing in rank, doc frequency bounded by count and N,
    # and the #1 count equals an independently computed global max.
    t0 = time.time()
    bp = Q.QUERIES["bpe_pair_counts"](spark, tmp).orderBy("rank").collect()
    out["bpe_sec"] = round(time.time() - t0, 2)
    assert len(bp) == 20 and [r["rank"] for r in bp] == list(range(1, 21)), bp
    assert all(
        bp[i]["cnt"] >= bp[i + 1]["cnt"] for i in range(19)
    ), [r["cnt"] for r in bp]
    assert all(r["n_docs"] <= r["cnt"] and r["n_docs"] <= n for r in bp), bp
    max_cnt = (
        Q.testdata.load(spark, tmp, "documents")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1),"
                    " i -> concat(element_at(split(text, ' '), i), ' ',"
                    " element_at(split(text, ' '), i + 1)))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert bp[0]["cnt"] == max_cnt, (bp[0]["cnt"], max_cnt)
    out["bpe_top_pair_cnt"] = int(max_cnt)
    out["bpe_docs_per_sec"] = int(n / max(out["bpe_sec"], 1e-9))

    # exact-substring spans (part 8): the 20-word vocab saturates every
    # 4-gram at N ≥ 100k (expected copies λ = 50N/160k ≥ 30; singleton
    # probability ~160k·λ·e^-λ < 1e-6), so the closed form is one
    # merged span per doc covering all 50 words.
    t0 = time.time()
    es = Q.QUERIES["exact_substring_spans"](spark, tmp)
    agg = es.agg(
        F.count("*").alias("rows"),
        F.sum("dup_words").alias("dw"),
        F.sum(
            F.when(
                (F.col("dup_spans") != 1)
                | (F.col("dup_words") != F.col("n_words")),
                1,
            ).otherwise(0)
        ).alias("unsaturated"),
    ).first()
    out["substring_spans_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n, agg
    if n >= 100_000:
        assert agg.unsaturated == 0 and agg.dw == 50 * n, agg
    out["substring_spans_docs_per_sec"] = int(
        n / max(out["substring_spans_sec"], 1e-9)
    )

    # LM familiarity (part 8): full reference coverage at N ≥ 100k,
    # plus the exact global mass identity through an independent route
    # (two groupBys joined on the gram value — a different expression
    # tree than the query's broadcast-map lookup).
    t0 = time.time()
    lf = Q.QUERIES["lm_familiarity_buckets"](spark, tmp)
    agg = lf.agg(
        F.count("*").alias("rows"),
        F.sum("n_bigrams").alias("nb"),
        F.sum("ref_mass").alias("mass"),
        F.sum(
            F.when(F.col("matched") != F.col("n_bigrams"), 1).otherwise(0)
        ).alias("unmatched_docs"),
    ).first()
    out["lm_familiarity_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n and agg.nb == 49 * n, agg
    if n >= 100_000:
        assert agg.unmatched_docs == 0, agg
    big = (
        Q.testdata.load(spark, tmp, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1),"
                    " i -> concat(element_at(split(text, ' '), i), ' ',"
                    " element_at(split(text, ' '), i + 1)))"
                )
            ).alias("gram"),
        )
    )
    corpus_cnt = big.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ref_cnt = (
        big.where(F.col("doc_id") % 10 == 0)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    check = (
        corpus_cnt.join(ref_cnt, "gram")
        .agg(F.sum(F.col("c") * F.col("r")).alias("mass"))
        .first()
    )
    assert agg.mass == check.mass, (agg.mass, check.mass)
    out["lm_familiarity_mass"] = int(agg.mass)
    out["lm_familiarity_docs_per_sec"] = int(
        n / max(out["lm_familiarity_sec"], 1e-9)
    )

    # BPE merge application (part 8): full-corpus aggregates plus a
    # 200-doc sample re-derived through an independent pure-Python
    # left-to-right scan (Python str.replace shares the
    # non-overlapping continue-after-replacement semantics).
    t0 = time.time()
    ba = Q.QUERIES["bpe_apply_merges"](spark, tmp)
    agg = ba.agg(
        F.count("*").alias("rows"),
        F.sum("n_tokens_before").alias("before"),
        F.sum("n_merges").alias("merges"),
    ).first()
    out["bpe_apply_sec"] = round(time.time() - t0, 2)
    assert agg.rows == n and agg.before == 50 * n, agg
    out["bpe_apply_total_merges"] = int(agg.merges)
    out["bpe_apply_docs_per_sec"] = int(n / max(out["bpe_apply_sec"], 1e-9))
    sample = ba.where(F.col("doc_id") % (max(n // 200, 1)) == 0).collect()
    raw = {
        r.doc_id: r.text
        for r in Q.testdata.load(spark, tmp, "documents")
        .where(F.col("doc_id") % (max(n // 200, 1)) == 0)
        .collect()
    }
    for r in sample:
        s = " " + raw[r.doc_id] + " "
        for a, b in Q._BPE_MERGES:
            s = s.replace(f" {a} {b} ", f" {a}@{b} ")
        s = s.strip()
        assert r.merged == s, r.doc_id
        assert r.n_merges == r.n_tokens_before - len(s.split(" ")), r.doc_id

    # tf-idf top terms (part 8): per-doc row bound + a 200-doc sample
    # re-ranked independently from the corpus df map.
    t0 = time.time()
    tf = Q.QUERIES["tfidf_top_terms"](spark, tmp)
    agg = tf.groupBy("doc_id").count().agg(
        F.count("*").alias("docs"), F.max("count").alias("mx")
    ).first()
    out["tfidf_sec"] = round(time.time() - t0, 2)
    assert agg.docs == n and agg.mx <= 3, agg
    out["tfidf_docs_per_sec"] = int(n / max(out["tfidf_sec"], 1e-9))
    df_map = {
        r.term: r.df
        for r in Q.testdata.load(spark, tmp, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"), "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    }
    got_rows = tf.where(
        F.col("doc_id") % (max(n // 200, 1)) == 0
    ).collect()
    by_doc: dict = {}
    for r in got_rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        words = raw[doc_id].split(" ")
        tf_cnt: dict = {}
        for w in words:
            tf_cnt[w] = tf_cnt.get(w, 0) + 1
        ranked = sorted(
            tf_cnt.items(), key=lambda kv: (-kv[1] / df_map[kv[0]], kv[0])
        )[:3]
        got_sorted = sorted(rows, key=lambda r: r.rnk)
        assert [(r.term, r.tf) for r in got_sorted] == [
            (t, c) for t, c in ranked
        ], doc_id

    # URL dedup (part 8): totals + canonical-form shape + keep-first
    # on every group (the whole output is corpus/5-sized metadata).
    t0 = time.time()
    ud = Q.QUERIES["url_dedup_canonical"](spark, tmp)
    agg = ud.agg(
        F.count("*").alias("groups"),
        F.sum("n_docs").alias("total"),
        F.sum(
            F.when(
                F.col("canon_url").rlike("^https?://|^www\\.|\\?"), 1
            ).otherwise(0)
        ).alias("uncanonical"),
    ).first()
    out["url_dedup_sec"] = round(time.time() - t0, 2)
    assert agg.total == n and agg.uncanonical == 0, agg
    out["url_dedup_groups"] = int(agg.groups)
    out["url_dedup_docs_per_sec"] = int(n / max(out["url_dedup_sec"], 1e-9))
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    tmp = f"/tmp/mapshaper_spark_textops_{n}"
    spark = get_spark("textops-probe")
    try:
        result = run(spark, n, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "textops_probe.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

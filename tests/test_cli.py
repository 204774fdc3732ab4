"""End-to-end CLI tests for the dataprep subcommand (the batch ETL
subcommands are covered by test_etl_pipeline.py)."""

from __future__ import annotations

import pytest

from big_data_for_smart_houses_spark.cli import main


@pytest.fixture()
def corpus(spark, tmp_path):
    tmp = f"{tmp_path}/corpus"
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (2, "an entirely different document about spark joins and plans"),
        (3, "mail me at a.b@x.io or ping 10.0.0.1 about the offer"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/docs")
    return tmp


def test_cli_dedup_exact(spark, corpus):
    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/out",
          "--op", "dedup-exact"])
    out = spark.read.parquet(f"{corpus}/out")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3]  # keeps min-id of the dup pair


def test_cli_split_and_shuffle(spark, corpus):
    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/split",
          "--op", "split"])
    split = spark.read.parquet(f"{corpus}/split")
    assert set(split.columns) >= {"doc_id", "split", "split_bucket"}
    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/shuf",
          "--op", "shuffle", "--salt", "3"])
    shuf = spark.read.parquet(f"{corpus}/shuf")
    assert sorted(r.shuffle_pos for r in shuf.collect()) == [0, 1, 2, 3]


def test_cli_scrub_and_decontam(spark, corpus):
    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/scrub",
          "--op", "scrub-pii"])
    scrubbed = {
        r.doc_id: r for r in spark.read.parquet(f"{corpus}/scrub").collect()
    }
    assert scrubbed[3].n_email == 1 and scrubbed[3].n_ip == 1
    assert "<EMAIL>" in scrubbed[3].scrubbed_text

    # doc 0/1 leak the "test set" (doc 0's text); both are removed
    spark.read.parquet(f"{corpus}/docs").filter("doc_id = 0").write.mode(
        "overwrite"
    ).parquet(f"{corpus}/test")
    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/clean",
          "--op", "decontam", "--test-input", f"{corpus}/test"])
    kept = sorted(
        r.doc_id for r in spark.read.parquet(f"{corpus}/clean").collect()
    )
    assert kept == [2, 3]


def test_cli_profile_chunk_and_lm_score(spark, corpus):
    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/prof",
          "--op", "profile"])
    prof = {r.column: r for r in spark.read.parquet(f"{corpus}/prof").collect()}
    assert prof["doc_id"].n_rows == 4 and prof["text"].n_distinct == 3

    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/cdc",
          "--op", "chunk-cdc"])
    cdc = spark.read.parquet(f"{corpus}/cdc")
    assert set(cdc.columns) == {"doc_id", "chunk_id", "chunk_text"}
    assert cdc.count() >= 4

    main(["dataprep", "--input", f"{corpus}/docs", "--out", f"{corpus}/lm",
          "--op", "lm-score"])
    lm = {r.doc_id: r for r in spark.read.parquet(f"{corpus}/lm").collect()}
    # the duplicated doc's bigrams are corpus-typical: higher logprob
    assert lm[0].avg_logprob > lm[2].avg_logprob


def test_cli_sentence_dedup(spark, corpus, tmp_path):
    tmp = str(tmp_path)
    rows = [
        (0, "shared chrome line. unique body zero"),
        (1, "shared chrome line. unique body one"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp}/docs")
    main(["dataprep", "--input", f"{tmp}/docs", "--out", f"{tmp}/out",
          "--op", "dedup-sentence"])
    out = {r.doc_id: r for r in spark.read.parquet(f"{tmp}/out").collect()}
    assert out[0].cleaned_text == "unique body zero"
    assert out[1].cleaned_text == "unique body one"


def test_cli_sample_pack_zorder(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    tmp = str(tmp_path)
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 5).cast("string")).alias("lang"),
        (F.col("id") % 9 + 1).alias("n_chars"),
        F.lit("alpha beta gamma delta").alias("text"),
    )
    docs.write.mode("overwrite").parquet(f"{tmp}/docs")

    main(["dataprep", "--input", f"{tmp}/docs", "--out", f"{tmp}/wor",
          "--op", "sample-wor", "--k", "10"])
    assert spark.read.parquet(f"{tmp}/wor").count() == 10

    main(["dataprep", "--input", f"{tmp}/docs", "--out", f"{tmp}/packed",
          "--op", "pack-offsets", "--budget", "8"])
    packed = spark.read.parquet(f"{tmp}/packed")
    assert {"batch_id", "offset_in_batch"} <= set(packed.columns)
    assert packed.count() == 50

    main(["dataprep", "--input", f"{tmp}/docs", "--out", f"{tmp}/zo",
          "--op", "zorder", "--cols", "doc_id,n_chars"])
    zo = spark.read.parquet(f"{tmp}/zo")
    assert "zorder_key" in zo.columns and zo.count() == 50


def test_cli_crossdoc_and_drift(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    tmp = str(tmp_path)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    uniq = "one two three four five six seven eight nine ten " * 8
    spark.createDataFrame(
        [(1, base), (2, base), (3, uniq)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{tmp}/docs")

    main(["dataprep", "--input", f"{tmp}/docs", "--out", f"{tmp}/kept",
          "--op", "dedup-cdc-crossdoc"])
    kept = {r.doc_id for r in spark.read.parquet(f"{tmp}/kept").collect()}
    assert kept == {3}  # both copies are mostly-shared, unique doc survives

    spark.createDataFrame(
        [(1, None), (2, base), (3, uniq)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{tmp}/docs_b")
    main(["dataprep", "--input", f"{tmp}/docs", "--out", f"{tmp}/drift",
          "--op", "drift", "--b-input", f"{tmp}/docs_b"])
    drift = {r["column"]: r for r in
             spark.read.parquet(f"{tmp}/drift").collect()}
    assert drift["text"]["drifted"]


def test_cli_bloom_probe(spark, corpus):
    """bloom-probe keeps every probe row whose key is in the member
    set (no false negatives) and — at this fill factor — drops the
    rest."""
    probe_rows = [(0, "x"), (2, "y"), (99, "z"), (7, "w")]
    spark.createDataFrame(
        probe_rows, "doc_id long, text string"
    ).write.mode("overwrite").parquet(f"{corpus}/probe")
    main(["dataprep", "--input", f"{corpus}/docs", "--out",
          f"{corpus}/bloomed", "--op", "bloom-probe",
          "--b-input", f"{corpus}/probe", "--cols", "doc_id"])
    out = spark.read.parquet(f"{corpus}/bloomed")
    ids = sorted(r.doc_id for r in out.collect())
    assert set(ids) >= {0, 2}          # members always survive
    assert set(ids) <= {0, 2, 7, 99}   # schema preserved, no dupes
    assert out.columns == ["doc_id", "text"]


def test_cli_vocab_kl_pagerank_snapshot_diff(spark, corpus):
    main(["dataprep", "--input", f"{corpus}/docs", "--out",
          f"{corpus}/bpe", "--op", "vocab-bpe", "--k", "5"])
    bpe = spark.read.parquet(f"{corpus}/bpe")
    assert set(bpe.columns) == {"a", "b", "n_pairs"} and bpe.count() == 5

    main(["dataprep", "--input", f"{corpus}/docs", "--out",
          f"{corpus}/inv", "--op", "invindex"])
    inv = {r.token: r for r in spark.read.parquet(f"{corpus}/inv").collect()}
    assert inv["the"].df == 3 and inv["the"].postings_head == "0,1,3"

    # kl over a source-labelled copy
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{corpus}/docs").withColumn(
        "source",
        F.expr("CASE WHEN doc_id < 2 THEN 's1' ELSE 's2' END"),
    )
    docs.write.mode("overwrite").parquet(f"{corpus}/docs_src")
    main(["dataprep", "--input", f"{corpus}/docs_src", "--out",
          f"{corpus}/kl", "--op", "kl", "--cols", "source"])
    kl = {r.source: r.kl for r in spark.read.parquet(f"{corpus}/kl").collect()}
    assert set(kl) == {"s1", "s2"} and all(v >= 0 for v in kl.values())

    # pagerank over an edge list
    spark.createDataFrame(
        [(0, 1), (1, 0), (2, 0)], "src long, dst long"
    ).write.mode("overwrite").parquet(f"{corpus}/edges")
    main(["dataprep", "--input", f"{corpus}/edges", "--out",
          f"{corpus}/pr", "--op", "pagerank", "--cols", "src,dst"])
    pr = spark.read.parquet(f"{corpus}/pr")
    assert abs(sum(r.rank for r in pr.collect()) - 1.0) < 1e-9

    # snapshot-diff of the corpus against a mutated copy
    spark.read.parquet(f"{corpus}/docs").filter("doc_id <> 1").write.mode(
        "overwrite"
    ).parquet(f"{corpus}/docs_b")
    main(["dataprep", "--input", f"{corpus}/docs", "--out",
          f"{corpus}/diff", "--op", "snapshot-diff", "--b-input",
          f"{corpus}/docs_b", "--cols", "doc_id"])
    diff = {r.doc_id: r.change_type
            for r in spark.read.parquet(f"{corpus}/diff").collect()}
    assert diff == {1: "delete"}

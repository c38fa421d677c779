"""CNA pipeline parity tests (FIXTURES.md §3, SURVEY §2 A1/A2/P5 + melt)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clickhouse_only_importer_prototype_spark.operators import cna as cna_ops
from clickhouse_only_importer_prototype_spark.plans import pipelines
from clickhouse_only_importer_prototype_spark.sources.tsv import read_cna_matrix


def _study_a_df(spark, study_tree):
    return read_cna_matrix(spark, os.path.join(study_tree, "study_a", "data_cna.txt"))


def test_genetic_alterations_values_in_column_order(spark, study_tree):
    df = _study_a_df(spark, study_tree)
    ga = cna_ops.genetic_alterations(df, "study_a", "study_a_gistic")
    rows = {r.GENE_SYMBOL: r for r in ga.collect()}
    assert set(rows) == {"TP53", "EGFR", "KRAS"}
    assert rows["TP53"].VALUES == "-2,0,1"
    assert rows["EGFR"].VALUES == "2,-1,0"
    assert rows["TP53"].CANCER_STUDY == "study_a"
    assert rows["TP53"].GENETIC_PROFILE == "study_a_gistic"
    assert ga.columns == ["CANCER_STUDY", "GENETIC_PROFILE", "GENE_SYMBOL", "VALUES"]


def test_genetic_profile_samples_single_row(spark, study_tree):
    df = _study_a_df(spark, study_tree)
    gps = cna_ops.genetic_profile_samples(spark, df, "study_a", "study_a_gistic")
    rows = gps.collect()
    assert len(rows) == 1  # 1-row invariant (cna/transformer.go:553-560)
    assert rows[0].ORDERED_SAMPLE_LIST == "study_a_S1,study_a_S2,study_a_S3"


def test_derived_full_melt(spark, study_tree):
    df = _study_a_df(spark, study_tree)
    derived = cna_ops.cna_derived(df, "study_a", "study_a_gistic")
    rows = derived.collect()
    assert len(rows) == 9  # genes x samples
    by_key = {(r.SAMPLE_ID, r.GENE_SYMBOL): r.ALTERATION for r in rows}
    assert by_key[("study_a_S1", "TP53")] == "-2"
    assert by_key[("study_a_S3", "KRAS")] == "2"
    assert derived.columns == [
        "SAMPLE_ID", "CANCER_STUDY", "GENE_SYMBOL", "GENETIC_PROFILE", "ALTERATION",
    ]


def test_no_nulls_in_outputs(spark, tmp_path):
    # empty TSV cell must become "", not NULL (mutation/transformer.go:324)
    p = tmp_path / "study_e" / "data_cna.txt"
    p.parent.mkdir(parents=True)
    p.write_text("Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\nTP53\t7157\t\t1\n")
    df = read_cna_matrix(spark, str(p))
    ga = cna_ops.genetic_alterations(df, "s", "p")
    assert ga.collect()[0].VALUES == ",1"
    derived = cna_ops.cna_derived(df, "s", "p")
    vals = {r.SAMPLE_ID: r.ALTERATION for r in derived.collect()}
    assert vals["s_S1"] == ""  # not None
    for row in derived.collect():
        assert all(v is not None for v in row)


def test_long_path_pivot_concat_matches_wide(spark, study_tree):
    df = _study_a_df(spark, study_tree)
    wide = cna_ops.genetic_alterations(df, "study_a", "study_a_gistic")
    long_df = cna_ops.cna_derived(df, "study_a", "study_a_gistic")
    samples = cna_ops.sample_columns(df)
    idx = {f"study_a_{c}": i for i, c in enumerate(samples)}
    mapping = F.create_map(*[F.lit(x) for kv in idx.items() for x in kv])
    long_with_idx = long_df.withColumn("sample_idx", mapping[F.col("SAMPLE_ID")])
    rebuilt = cna_ops.genetic_alterations_from_long(
        long_with_idx,
        gene_col="GENE_SYMBOL",
        sample_idx_col="sample_idx",
        value_col="ALTERATION",
        study_col="CANCER_STUDY",
        profile_col="GENETIC_PROFILE",
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, wide.collect()))


def test_convert_cna_end_to_end(spark, study_tree, tmp_path):
    out = str(tmp_path / "parquet")
    assert pipelines.convert_cna_grouped(spark, study_tree, out, with_derived=True) == 2
    ga = spark.read.parquet(os.path.join(out, "study_a_data_cna_genetic_alterations.parquet"))
    assert ga.count() == 3
    derived = spark.read.parquet(os.path.join(out, "study_b_data_cna_derived.parquet"))
    assert derived.count() == 4  # 2 genes x 2 samples
    gps = spark.read.parquet(
        os.path.join(out, "study_b_data_cna_genetic_profile_samples.parquet")
    )
    row = gps.collect()[0]
    assert row.ORDERED_SAMPLE_LIST == "study_b_X1,study_b_X2"

    # combine mode: duplicate-preserving union-all (U1)
    counts = pipelines.combine_cna(spark, out, with_derived=True)
    assert counts["genetic_alterations"] == 2
    combined = spark.read.parquet(os.path.join(out, "combined-all-cna_genetic_alterations.parquet"))
    assert combined.count() == 5  # 3 + 2, duplicates preserved

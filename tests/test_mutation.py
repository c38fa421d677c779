"""Mutation pipeline parity tests (FIXTURES.md §4, SURVEY §2 P1-P3, A3)."""

from __future__ import annotations

import os

import pytest

from clickhouse_only_importer_prototype_spark.operators import mutation as mut_ops
from clickhouse_only_importer_prototype_spark.plans import pipelines
from clickhouse_only_importer_prototype_spark.schemas import (
    MUTATION_EVENT_SCHEMA,
    MUTATION_SCHEMA,
)
from clickhouse_only_importer_prototype_spark.sources.tsv import read_maf


def _with_ids(df, path, start=0):
    """One scanned MAF through with_sequential_ids_multi: (frame with
    MUTATION_EVENT_ID, next free id)."""
    file_order = {pipelines._spark_file_uri(str(path)): 0}
    (ranked,), next_id = mut_ops.with_sequential_ids_multi(
        [df], start, file_order
    )
    return ranked, next_id


def test_maf_comment_skip(spark, study_tree):
    df = read_maf(spark, os.path.join(study_tree, "study_a", "data_mutations.txt"))
    assert df.count() == 3
    assert "Hugo_Symbol" in df.columns


def test_event_ids_dense_across_files(spark, study_tree, tmp_path):
    out = str(tmp_path / "parquet")
    summary = pipelines.convert_mutations_grouped_salvage(spark, study_tree, out)
    assert summary.ok
    a = spark.read.parquet(os.path.join(out, "study_a_data_mutations_mutation_event.parquet"))
    b = spark.read.parquet(
        os.path.join(out, "study_b_data_mutations_extended_mutation_event.parquet")
    )
    ids_a = sorted(r.MUTATION_EVENT_ID for r in a.collect())
    ids_b = sorted(r.MUTATION_EVENT_ID for r in b.collect())
    # dense, gapless, continuing across files in sorted-path order
    assert ids_a == [0, 1, 2]
    assert ids_b == [3, 4]


def test_event_id_row_order_within_file(spark, study_tree):
    path = os.path.join(study_tree, "study_a", "data_mutations.txt")
    with_ids, _ = _with_ids(read_maf(spark, path), path)
    rows = {r.Start_Position: r.MUTATION_EVENT_ID for r in with_ids.collect()}
    # file order: TP53(7577121), EGFR(55249071), KRAS(25398284)
    assert rows["7577121"] == 0
    assert rows["55249071"] == 1
    assert rows["25398284"] == 2


def test_sequential_ids_parallel_within_one_file(spark, tmp_path):
    """A single large MAF must rank across >1 scan partition (the
    VERDICT round-1 straggler: per-file window = one task per file)
    while keeping ids gapless and in scan order."""
    path = tmp_path / "data_mutations_big.txt"
    n = 5000
    lines = ["Hugo_Symbol\tEntrez_Gene_Id\tStart_Position\tTumor_Sample_Barcode"]
    lines += [f"G{i}\t{i}\t{i}\tS{i % 7}" for i in range(n)]
    path.write_text("\n".join(lines) + "\n")

    tiny_split = str(8 * 1024)  # ~140 KB file -> ~18 scan partitions
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", tiny_split)
    try:
        df = read_maf(spark, str(path))
        assert df.rdd.getNumPartitions() > 1  # the file really splits
        with_ids, _ = _with_ids(df, path, start=10)
        got = [
            int(r.Start_Position)
            for r in with_ids.orderBy("MUTATION_EVENT_ID").collect()
        ]
        ids = sorted(
            r.MUTATION_EVENT_ID
            for r in with_ids.select("MUTATION_EVENT_ID").collect()
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert ids == list(range(10, 10 + n))  # dense, gapless, offset honored
    assert got == list(range(n))  # scan order preserved across splits


def test_missing_columns_become_empty_string(spark, study_tree):
    path = os.path.join(study_tree, "study_b", "data_mutations_extended.txt")
    with_ids, _ = _with_ids(read_maf(spark, path), path)
    mut = mut_ops.mutation(with_ids, "study_b", "study_b_mutations")
    row = mut.orderBy("MUTATION_EVENT_ID").collect()[0]
    assert row.SCORE == ""  # column absent from MAF
    assert row.BAM_FILE == ""
    assert row.CENTER == ""
    assert row.ANNOTATION_JSON == ""  # always empty
    assert row.SAMPLE_ID == "study_b_SAMPLE-X1"
    assert row.GENETIC_PROFILE_ID == "study_b_mutations"
    ev = mut_ops.mutation_event(with_ids).orderBy("MUTATION_EVENT_ID").collect()[0]
    assert ev.KEYWORD == ""  # one of the 7 reserved-empty columns
    assert ev.TUMOR_SEQ_ALLELE == "T"  # from Tumor_Seq_Allele2
    assert ev.END_POSITION == ""  # absent in study_b fixture


def test_output_schemas_exact(spark, study_tree):
    path = os.path.join(study_tree, "study_a", "data_mutations.txt")
    with_ids, _ = _with_ids(read_maf(spark, path), path)
    ev = mut_ops.mutation_event(with_ids)
    mut = mut_ops.mutation(with_ids, "s", "p")
    assert ev.columns == [f.name for f in MUTATION_EVENT_SCHEMA.fields]
    assert mut.columns == [f.name for f in MUTATION_SCHEMA.fields]
    assert dict(ev.dtypes)["MUTATION_EVENT_ID"] == "bigint"
    assert all(t == "string" for c, t in ev.dtypes if c != "MUTATION_EVENT_ID")
    assert all(t == "string" for c, t in mut.dtypes if c != "MUTATION_EVENT_ID")


def test_row_count_invariants(spark, study_tree):
    # mutation rows == mutation_event rows == MAF data rows (no dedup)
    path = os.path.join(study_tree, "study_a", "data_mutations.txt")
    df = read_maf(spark, path)
    with_ids, _ = _with_ids(df, path)
    n = df.count()
    assert mut_ops.mutation_event(with_ids).count() == n
    assert mut_ops.mutation(with_ids, "s", "p").count() == n


def test_start_event_id_threading(spark, study_tree):
    path = os.path.join(study_tree, "study_a", "data_mutations.txt")
    with_ids, next_id = _with_ids(read_maf(spark, path), path, start=100)
    ids = sorted(r.MUTATION_EVENT_ID for r in with_ids.collect())
    assert ids == [100, 101, 102]
    assert next_id == 103


def test_combine_mutations(spark, study_tree, tmp_path):
    out = str(tmp_path / "parquet")
    pipelines.convert_mutations_grouped_salvage(spark, study_tree, out)
    counts = pipelines.combine_mutations(spark, out)
    assert counts == {"mutation_event": 2, "mutation": 2}
    combined = spark.read.parquet(os.path.join(out, "combined-all-cna_mutation.parquet"))
    assert combined.count() == 5
    ids = sorted(r.MUTATION_EVENT_ID for r in combined.collect())
    assert ids == [0, 1, 2, 3, 4]


def test_next_event_id_preserves_start_on_empty(spark, tmp_path):
    """An empty MAF leaves the next id at ``start`` — returning 0 would
    reset the cross-file counter and duplicate ids for every later
    file."""
    path = tmp_path / "data_mutations_empty.txt"
    path.write_text("Hugo_Symbol\tTumor_Sample_Barcode\n")
    _, next_id = _with_ids(read_maf(spark, str(path)), path, start=137)
    assert next_id == 137


def test_sequential_ids_guard_trips_on_partition_drift(spark, tmp_path):
    """Changing the scan conf between the counts pass (inside the call)
    and the rank pass (evaluation of the result) repacks FilePartitions;
    the cross-pass guard must fail loud instead of permuting ids."""
    path = tmp_path / "data_mutations_drift.txt"
    n = 5000
    lines = ["Hugo_Symbol\tEntrez_Gene_Id\tStart_Position\tTumor_Sample_Barcode"]
    lines += [f"G{i}\t{i}\t{i}\tS{i % 7}" for i in range(n)]
    path.write_text("\n".join(lines) + "\n")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024))
    try:
        df = read_maf(spark, str(path))
        with_ids, _ = _with_ids(df, path)  # counts pass: ~18 splits
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024))
        with pytest.raises(Exception, match="packing drifted"):
            with_ids.collect()  # rank pass: ~70 splits -> unseen pids
        # drift the other way: rank pass merges splits -> count mismatch
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024))
        with_ids2, _ = _with_ids(read_maf(spark, str(path)), path)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024 * 128))
        with pytest.raises(Exception, match="packing drifted"):
            with_ids2.collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

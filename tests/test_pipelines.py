"""End-to-end pipeline integration tests over fixture study trees —
the CLI parity surface (convert/combine modes) verified via DuckDB
reads of the written parquet.

``golden_loop_outputs.json`` holds what the retired per-study loop
wrote for every tree in ``TREES`` (file names, part-file counts, sorted
rows); the grouped convert functions are pinned against it.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pytest

from clickhouse_only_importer_prototype_spark import cli
from clickhouse_only_importer_prototype_spark.plans import pipelines

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden_loop_outputs.json")

_MAF_HEADER = "Hugo_Symbol\tEntrez_Gene_Id\tStart_Position\tTumor_Sample_Barcode\n"


def _study(root, name, files):
    d = root / name
    d.mkdir(parents=True, exist_ok=True)
    for fname, body in files.items():
        (d / fname).write_text(body)


def _meta(study, stable_id, data_filename):
    return (
        f"cancer_study_identifier: {study}\nstable_id: {stable_id}\n"
        f"data_filename: {data_filename}\n"
    )


def _study_tree(root):
    """Two studies: CNA + MAF + decoys in study_a, CNA only in study_b."""
    _study(root, "study_a", {
        "meta_cna.txt": _meta("study_a", "gistic", "data_cna.txt"),
        "data_cna.txt": (
            "Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\tS3\n"
            "TP53\t7157\t0\t-1\t2\n"
            "BRCA1\t672\t1\t0\t-2\n"
        ),
        "meta_mutations.txt": _meta("study_a", "mutations", "data_mutations.txt"),
        "data_mutations.txt": (
            "#version 2.4\n"
            "Hugo_Symbol\tEntrez_Gene_Id\tChromosome\tStart_Position\t"
            "Tumor_Sample_Barcode\tt_alt_count\n"
            "TP53\t7157\t17\t7578406\tS1\t12\n"
            "BRCA1\t672\t13\t32914438\tS2\t8\n"
        ),
        # decoys that must be ignored
        "data_cna_seg.txt": "x\n",
    })
    (root / "study_a" / "case_lists").mkdir()
    (root / "study_a" / "case_lists" / "meta_cna.txt").write_text(
        "cancer_study_identifier: nope\n"
    )
    _study(root, "study_b", {
        "meta_cna.txt": _meta("study_b", "cna", "data_cna.txt"),
        "data_cna.txt": "Hugo_Symbol\tEntrez_Gene_Id\tT1\nEGFR\t1956\t1\n",
    })
    return str(root)


def _header_group_tree(root):
    """Four MAFs: g_02 has a different header (a second scan group, so
    ids interleave across groups) and g_03 has zero data rows."""
    mafs = {
        "g_01": _MAF_HEADER + "TP53\t7157\t1\tSA\nBRCA1\t672\t2\tSA\n",
        "g_02": (
            "#v2\nTumor_Sample_Barcode\tHugo_Symbol\tEntrez_Gene_Id\t"
            "Center\tStart_Position\n"
            "SB\tEGFR\t1956\tC1\t5\n"
        ),
        "g_03": _MAF_HEADER,
        "g_04": _MAF_HEADER + "ALK\t238\t9\tSC\n",
    }
    for name, body in mafs.items():
        _study(root, name, {
            "meta_mutations.txt": _meta(name, "mutations", "data_mutations.txt"),
            "data_mutations.txt": body,
        })
    return str(root)


def _three_study_mutation_tree(root):
    """s_aa (1 row), s_bb (1 row), s_cc (2 rows) — the D4 fixture;
    s_bb is the read-failure injection target."""
    for name, rows in (
        ("s_aa", ["TP53\t7157\t1\tSA"]),
        ("s_bb", ["BRAF\t673\t3\tSB"]),
        ("s_cc", ["EGFR\t1956\t5\tSC", "KRAS\t3845\t9\tSC"]),
    ):
        _study(root, name, {
            "meta_mutations.txt": _meta(name, "mutations", "data_mutations.txt"),
            "data_mutations.txt": _MAF_HEADER + "\n".join(rows) + "\n",
        })
    return str(root)


def _exotic_symlink_tree(root):
    """Two MAFs in one study whose raw-path order (x0y before x>y) is
    the reverse of their percent-encoded scan-URI order ('x%3Ey'),
    reached through a symlinked tsv_dir."""
    real = root / "real_studies"
    _study(real, "s_exotic", {
        "meta_mutations_a.txt": _meta(
            "s_exotic", "mutations", "data_mutations_x0y.txt"
        ),
        "data_mutations_x0y.txt": (
            _MAF_HEADER + "TP53\t7157\t1\tSA\nBRCA1\t672\t2\tSA\n"
        ),
        "meta_mutations_b.txt": _meta(
            "s_exotic", "mutations2", "data_mutations_x>y.txt"
        ),
        "data_mutations_x>y.txt": (
            _MAF_HEADER + "EGFR\t1956\t5\tSB\nKRAS\t3845\t7\tSB\n"
        ),
    })
    link = root / "linked_studies"
    os.symlink(real, link)
    return str(link)


def _quoted_cell_tree(root):
    """A CNA matrix with csv-quoted cells, one of them holding a tab:
    the csv reader keeps "A<TAB>B" as one field, a raw tab split would
    not."""
    _study(root, "s_qcell", {
        "meta_cna.txt": _meta("s_qcell", "gistic", "data_cna.txt"),
        "data_cna.txt": (
            "Hugo_Symbol\tEntrez_Gene_Id\tS1\tS2\n"
            'TP53\t7157\t"0"\t1\n'
            '"CDKN2A"\t1029\t-1\t"2"\n'
            '"A\tB"\t1\t0\t1\n'
        ),
    })
    return str(root)


def _quoted_header_tree(root):
    """A CNA matrix whose header carries csv-quoted names."""
    _study(root, "s_qhdr", {
        "meta_cna.txt": _meta("s_qhdr", "cna", "data_cna.txt"),
        "data_cna.txt": (
            '"Hugo_Symbol"\tEntrez_Gene_Id\t"S1"\tS2\n'
            "EGFR\t1956\t1\t-1\n"
            "MYC\t4609\t0\t2\n"
        ),
    })
    return str(root)


TREES = {
    "study_tree": _study_tree,
    "studies_g": _header_group_tree,
    "d4_read_failure": _three_study_mutation_tree,
    "exotic_symlink": _exotic_symlink_tree,
    "cna_quoted_cell": _quoted_cell_tree,
    "cna_quoted_header": _quoted_header_tree,
}


def _fail_reads_of(needle, real_read):
    """read_maf seam that fails every single-path read of a file whose
    path contains ``needle`` (PERMISSIVE csv makes content-level read
    failures unreachable, so the isolation logic is pinned here)."""

    def read(spark_, path):
        if isinstance(path, str) and needle in path:
            raise RuntimeError(f"injected read failure: {needle}")
        return real_read(spark_, path)

    return read


def _outputs(out_dir):
    """Every ``*.parquet`` output under ``out_dir``: part-file count,
    column names and sorted rows."""
    got = {}
    for path in sorted(glob.glob(os.path.join(str(out_dir), "*.parquet"))):
        res = duckdb.sql(f"select * from read_parquet('{path}/*.parquet')")
        got[os.path.basename(path)] = {
            "parts": len(glob.glob(os.path.join(path, "*.parquet"))),
            "columns": list(res.columns),
            "rows": sorted(list(r) for r in res.fetchall()),
        }
    return got


def _relative(paths, tsv_dir):
    return sorted(os.path.relpath(p, tsv_dir) for p in paths)


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN_PATH) as fh:
        return json.load(fh)["trees"]


@pytest.fixture(scope="module")
def study_tree(tmp_path_factory):
    return _study_tree(tmp_path_factory.mktemp("studies"))


def _read(path):
    return duckdb.sql(
        f"select * from read_parquet('{path}/*.parquet')"
    ).df()


def test_convert_cna_with_derived(spark, study_tree, tmp_path):
    out = tmp_path / "out"
    n = pipelines.convert_cna_grouped(
        spark, str(study_tree), str(out), with_derived=True
    )
    assert n == 2

    ga = _read(out / "study_a_data_cna_genetic_alterations.parquet")
    assert sorted(zip(ga.GENE_SYMBOL, ga.VALUES)) == [
        ("BRCA1", "1,0,-2"),
        ("TP53", "0,-1,2"),
    ]
    assert set(ga.GENETIC_PROFILE) == {"study_a_gistic"}

    gps = _read(out / "study_a_data_cna_genetic_profile_samples.parquet")
    assert len(gps) == 1  # 1-row invariant (cna/transformer.go:553-560)
    assert gps.ORDERED_SAMPLE_LIST[0] == "study_a_S1,study_a_S2,study_a_S3"

    derived = _read(out / "study_a_data_cna_derived.parquet")
    assert len(derived) == 6  # genes x samples
    assert set(derived.SAMPLE_ID) == {"study_a_S1", "study_a_S2", "study_a_S3"}


def test_convert_mutations_gapless_ids(spark, study_tree, tmp_path):
    out = tmp_path / "mout"
    summary = pipelines.convert_mutations_grouped_salvage(
        spark, str(study_tree), str(out)
    )
    assert summary.ok

    ev = _read(out / "study_a_data_mutations_mutation_event.parquet")
    mut = _read(out / "study_a_data_mutations_mutation.parquet")
    assert sorted(ev.MUTATION_EVENT_ID) == [0, 1]  # dense, gapless, from 0
    assert sorted(mut.MUTATION_EVENT_ID) == [0, 1]  # FK co-generated
    assert set(mut.SAMPLE_ID) == {"study_a_S1", "study_a_S2"}
    # absent MAF columns become "" (mutation/transformer.go:324)
    assert set(ev.KEYWORD) == {""}
    assert all(ev.START_POSITION.isin(["7578406", "32914438"]))


def test_combine_union_all(spark, study_tree, tmp_path):
    out = tmp_path / "cout"
    pipelines.convert_cna_grouped(
        spark, str(study_tree), str(out), with_derived=True
    )
    counts = pipelines.combine_cna(spark, str(out), with_derived=True)
    assert counts == {
        "genetic_alterations": 2,
        "genetic_profile_samples": 2,
        "derived": 2,
    }
    combined = _read(out / "combined-all-cna_genetic_alterations.parquet")
    # duplicates preserved, both studies present
    assert len(combined) == 3
    assert set(combined.CANCER_STUDY) == {"study_a", "study_b"}


def test_combined_output_base_derivation(tmp_path):
    """Reference -output path rules (cmd/cli/main.go:198-237,561-579):
    relative joins parquet_dir, absolute used as-is, .parquet suffix
    stripped once before _<kind>.parquet is appended."""
    base = pipelines.combined_output_base("/pq", "my-run.parquet")
    assert base == "/pq/my-run"
    assert pipelines.combined_output_base("/pq", "my-run") == "/pq/my-run"
    abs_base = pipelines.combined_output_base("/pq", "/elsewhere/x.parquet")
    assert abs_base == "/elsewhere/x"
    # default matches the reference's flag default
    assert pipelines.DEFAULT_COMBINE_OUTPUT == "combined-all-cna.parquet"


def test_combine_with_output_override(spark, study_tree, tmp_path):
    out = tmp_path / "cout2"
    other = tmp_path / "other_dir"
    other.mkdir()
    pipelines.convert_cna_grouped(
        spark, str(study_tree), str(out), with_derived=False
    )
    counts = pipelines.combine_cna(
        spark, str(out), output=str(other / "merged.parquet")
    )
    assert counts["genetic_alterations"] == 2
    combined = _read(other / "merged_genetic_alterations.parquet")
    assert len(combined) == 3


def test_cli_query_oracle_mode(spark, sf_dir, capsys):
    """-oracle runs the registered query AND its DuckDB oracle on the
    same dir and exits 0 on the driver-identical triple match."""
    rc = cli.main(
        ["-mode", "query", "-name", "region_rollup",
         "-parquet-dir", sf_dir, "-oracle"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "columns=MATCH rows=MATCH" in out and "values=MATCH" in out

    # rows-only queries have no oracle: the flag must fail loud
    with pytest.raises(SystemExit):
        cli.main(
            ["-mode", "query", "-name", "ann_cosine_topk_lsh",
             "-parquet-dir", sf_dir, "-oracle"]
        )


def test_convert_mutations_parallel_read_failure_consumes_no_ids(
    spark, tmp_path, monkeypatch
):
    """D4 isolation: a file that fails its READ in the thread-pool
    probe consumes no ids — later files' ids shift down exactly as in
    the sequential loop — and lands in the failure manifest."""
    root = _three_study_mutation_tree(tmp_path / "studies")
    monkeypatch.setattr(
        pipelines, "read_maf", _fail_reads_of("s_bb", pipelines.read_maf)
    )
    out = tmp_path / "mout"
    s = pipelines.convert_mutations_grouped_salvage(spark, root, str(out))
    assert len(s.processed) == 2 and len(s.failed) == 1
    assert "s_bb" in next(iter(s.failed))
    ev_a = _read(out / "s_aa_data_mutations_mutation_event.parquet")
    ev_c = _read(out / "s_cc_data_mutations_mutation_event.parquet")
    # s_bb consumed nothing: s_cc follows s_aa directly
    assert sorted(ev_a.MUTATION_EVENT_ID) == [0]
    assert sorted(ev_c.MUTATION_EVENT_ID) == [1, 2]
    # no partial outputs for the failed study
    assert not any("s_bb" in n for n in os.listdir(out))


def test_convert_mutations_grouped_salvage_isolates_corrupt_file(
    spark, golden, tmp_path, monkeypatch
):
    """The grouped write alone is all-or-nothing; the salvage wrapper
    keeps D4 per-file isolation. One MAF fails every read (the probe
    and the replay): the run still completes every healthy file, the
    manifest names the failure, and the outputs equal the loop's over
    the same tree (same file set, ids and rows — the failed file
    consumed no ids in both)."""
    root = _three_study_mutation_tree(tmp_path / "studies")
    monkeypatch.setattr(
        pipelines, "read_maf", _fail_reads_of("s_bb", pipelines.read_maf)
    )
    out = tmp_path / "osalv"
    salv = pipelines.convert_mutations_grouped_salvage(spark, root, str(out))
    want = golden["d4_read_failure"]["convert-mutations"]
    assert not salv.ok
    assert _relative(salv.processed, root) == want["processed"]
    assert _relative(salv.failed, root) == want["failed"]
    (bad,) = salv.failed
    assert "injected read failure" in salv.failed[bad]
    assert _outputs(out) == want["outputs"]


def test_convert_mutations_grouped_salvage_replays_transient_failure(
    spark, tmp_path, monkeypatch
):
    """A file that fails only its PROBE (transient) is salvaged by the
    per-file replay: the run converges to ok, and the replayed file
    takes ids past the healthy range (documented late-id contract —
    unique and ordered, gapless within each phase)."""
    root = _three_study_mutation_tree(tmp_path / "studies")
    real_read = pipelines.read_maf
    fails = {"n": 0}

    def flaky_once(spark_, path):
        if isinstance(path, str) and "s_bb" in path and fails["n"] == 0:
            fails["n"] = 1
            raise RuntimeError("transient probe failure")
        return real_read(spark_, path)

    monkeypatch.setattr(pipelines, "read_maf", flaky_once)
    out = tmp_path / "osalv2"
    s = pipelines.convert_mutations_grouped_salvage(spark, root, str(out))
    assert s.ok and len(s.processed) == 3 and not s.failed
    ev_a = _read(out / "s_aa_data_mutations_mutation_event.parquet")
    ev_b = _read(out / "s_bb_data_mutations_mutation_event.parquet")
    ev_c = _read(out / "s_cc_data_mutations_mutation_event.parquet")
    # healthy files keep loop-identical ids (s_bb's probe failure
    # consumed none); the salvaged file takes the next free range
    assert sorted(ev_a.MUTATION_EVENT_ID) == [0]
    assert sorted(ev_c.MUTATION_EVENT_ID) == [1, 2]
    assert sorted(ev_b.MUTATION_EVENT_ID) == [3]
    # the replay keeps the one-part-file layout
    parts = glob.glob(
        str(out / "s_bb_data_mutations_mutation_event.parquet" / "*.parquet")
    )
    assert len(parts) == 1, parts


def test_convert_mutations_partitioned_exotic_names_via_symlink(
    spark, golden, tmp_path
):
    """Two traps in the grouped manifest/id plumbing, both exercised at
    once.

    (1) File URI percent-encoding can permute id order vs raw-path
    discovery order: 'x>y' scans as 'x%3Ey' and '%'(0x25) < '0'(0x30),
    so lexicographic-URI ordering puts 'x>y.txt' BEFORE 'x0y.txt' while
    raw-path order is the reverse — ids must follow discovery order
    (URI->rank map).

    (2) Manifest keys built with Path.resolve() resolve symlinks but
    input_file_name() does not, so a symlinked tsv_dir would make every
    scan tag miss the broadcast manifest.
    """
    link = _exotic_symlink_tree(tmp_path)
    out = tmp_path / "grouped_x"
    summary = pipelines.convert_mutations_grouped_salvage(spark, link, str(out))
    assert summary.ok and len(summary.processed) == 2
    got = _outputs(out)
    assert got == golden["exotic_symlink"]["convert-mutations"]["outputs"]
    ev = _read(out / "s_exotic_data_mutations_x0y_mutation_event.parquet")
    ev2 = _read(out / "s_exotic_data_mutations_x>y_mutation_event.parquet")
    # discovery (raw-path) order: x0y's rows take ids 0-1, x>y's 2-3 —
    # lexicographic-URI ordering would have flipped them
    assert dict(zip(ev.MUTATION_EVENT_ID, ev.ENTREZ_GENE_ID))[0] == "7157"
    assert dict(zip(ev2.MUTATION_EVENT_ID, ev2.ENTREZ_GENE_ID))[2] == "1956"


def _cna_golden(golden, tree, with_derived):
    outs = golden[tree]["convert-cna-with-derived"]["outputs"]
    return {
        k: v for k, v in outs.items()
        if with_derived or not k.endswith("_derived.parquet")
    }


def test_convert_cna_partitioned_quote_guard(spark, golden, tmp_path):
    """The grouped plan parses rows with a raw split(value, '\\t') — no
    csv quote semantics — so a file with a '"' in a cell or in its
    header converts alone through the per-file csv reader. Both
    branches: a tree mixing clean, quoted-cell and quoted-header files
    reproduces the loop's rows for every output, while a file whose
    header line matches 0 or 2 times still aborts the run."""
    root = tmp_path / "studies_q"
    for tree in ("study_tree", "cna_quoted_cell", "cna_quoted_header"):
        TREES[tree](root)
    out = tmp_path / "out_q"
    assert pipelines.convert_cna_grouped(
        spark, str(root), str(out), with_derived=True
    ) == 4
    want = {}
    for tree in ("study_tree", "cna_quoted_cell", "cna_quoted_header"):
        want.update(_cna_golden(golden, tree, with_derived=True))
    assert _outputs(out) == want
    assert not glob.glob(str(out / ".grouped_staging*"))

    header = b"Hugo_Symbol\tEntrez_Gene_Id\tS1\n"
    for name, n_hdr, body in (
        # a data row byte-equal to the header: 2 header matches
        ("s_two", 2, header + header + b'TP53\t7157\t"0"\n'),
        # a non-UTF-8 header byte: the driver decodes it to U+FFFD, the
        # text scan keeps the raw byte, so no line matches
        ("s_zero", 0, b"Hugo_Symbol\tEntrez_Gene_Id\tS\xe91\n"
                   b'TP53\t7157\t"0"\n'),
    ):
        bad_root = tmp_path / f"studies_{name}"
        _study(bad_root, name, {
            "meta_cna.txt": _meta(name, "gistic", "data_cna.txt"),
        })
        (bad_root / name / "data_cna.txt").write_bytes(body)
        with pytest.raises(ValueError, match=f"header_matches={n_hdr}"):
            pipelines.convert_cna_grouped(
                spark, str(bad_root), str(tmp_path / f"out_{name}")
            )


def test_convert_mutations_grouped_matches_loop_layout(
    spark, golden, tmp_path
):
    """convert-mutations reproduces the per-study loop's outputs
    exactly — same file names, same rows per file, identical ids, one
    part file per output — on the plain and header-group trees
    (zero-data-row MAF included; the read-failure and symlink trees are
    pinned by their own tests above)."""
    for tree in ("study_tree", "studies_g"):
        tsv_dir = TREES[tree](tmp_path / tree)
        out = tmp_path / f"out_{tree}"
        want = golden[tree]["convert-mutations"]
        s = pipelines.convert_mutations_grouped_salvage(spark, tsv_dir, str(out))
        assert _relative(s.processed, tsv_dir) == want["processed"], tree
        assert not s.failed
        assert sorted(os.listdir(out)) == sorted(want["outputs"]), tree
        assert _outputs(out) == want["outputs"], tree


def test_convert_cna_grouped_matches_loop_layout(spark, golden, tmp_path):
    """convert-cna and convert-cna-with-derived reproduce the per-study
    loop's outputs on every CNA-bearing fixture tree: identical file
    names and rows, one part file per output, genetic_profile_samples'
    1-row invariant intact."""
    for tree in ("study_tree", "cna_quoted_cell", "cna_quoted_header"):
        tsv_dir = TREES[tree](tmp_path / tree)
        for with_derived in (False, True):
            out = tmp_path / f"out_{tree}_{with_derived}"
            pipelines.convert_cna_grouped(
                spark, tsv_dir, str(out), with_derived=with_derived
            )
            want = _cna_golden(golden, tree, with_derived)
            assert sorted(os.listdir(out)) == sorted(want), tree
            assert _outputs(out) == want, (tree, with_derived)
    gps = golden["study_tree"]["convert-cna-with-derived"]["outputs"][
        "study_a_data_cna_genetic_profile_samples.parquet"
    ]
    assert gps["rows"] == [
        ["study_a", "study_a_gistic", "study_a_S1,study_a_S2,study_a_S3"]
    ]


@pytest.mark.parametrize("kind", ["cna", "mutations"])
def test_grouped_write_failure_leaves_no_partial_outputs(
    spark, study_tree, tmp_path, monkeypatch, kind
):
    """A grouped run whose SECOND table write fails (derived for CNA,
    mutation for mutations) must not promote the first table: every
    table is staged before any output is renamed into place, and the
    staging dir is removed on the way out."""
    real_stage = pipelines._stage_grouped
    calls = []

    def fail_second(df, stage_dir, nparts, sort_cols):
        calls.append(stage_dir)
        if len(calls) == 2:
            raise RuntimeError("injected write failure")
        return real_stage(df, stage_dir, nparts, sort_cols)

    monkeypatch.setattr(pipelines, "_stage_grouped", fail_second)
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="injected write failure"):
        if kind == "cna":
            pipelines.convert_cna_grouped(
                spark, str(study_tree), str(out), with_derived=True
            )
        else:
            pipelines.convert_mutations_grouped_salvage(
                spark, str(study_tree), str(out)
            )
    assert len(calls) == 2
    assert os.listdir(out) == []


def test_cli_convert_modes_write_reference_layout(spark, study_tree, tmp_path):
    out = tmp_path / "cli_out"
    common = ["-tsv-dir", str(study_tree), "-parquet-dir", str(out)]
    assert cli.main(["-mode", "convert-cna-with-derived", *common]) == 0
    assert cli.main(["-mode", "convert-mutations", *common]) == 0
    assert sorted(os.listdir(out)) == [
        f"{base}_{kind}.parquet"
        for base, kind in sorted(
            [("study_a_data_cna", k) for k in (
                "derived", "genetic_alterations", "genetic_profile_samples"
            )]
            + [("study_a_data_mutations", k) for k in (
                "mutation", "mutation_event"
            )]
            + [("study_b_data_cna", k) for k in (
                "derived", "genetic_alterations", "genetic_profile_samples"
            )]
        )
    ]


def test_cli_rejects_removed_convert_modes(tmp_path, capsys):
    dirs = ["-tsv-dir", str(tmp_path), "-parquet-dir", str(tmp_path)]
    with pytest.raises(SystemExit):
        cli.main(["-mode", "convert-cna-grouped", *dirs])
    assert "invalid choice" in capsys.readouterr().err
    with pytest.raises(SystemExit):
        cli.main(["-mode", "convert-cna", "-parallelism", "4", *dirs])
    assert "unrecognized arguments" in capsys.readouterr().err


def test_cli_convert_failures_exit_1(
    spark, study_tree, tmp_path, monkeypatch, caplog
):
    """An aborted CNA run, an aborted mutations run and a non-empty
    mutations failure manifest all log the cause and return 1 — no
    traceback escapes the CLI."""
    bad_root = tmp_path / "studies_bad"
    _study(bad_root, "s_empty", {
        "meta_cna.txt": _meta("s_empty", "gistic", "data_cna.txt"),
        "data_cna.txt": "",
    })
    rc = cli.main(["-mode", "convert-cna", "-tsv-dir", str(bad_root),
                   "-parquet-dir", str(tmp_path / "o1")])
    assert rc == 1
    assert "convert-cna aborted" in caplog.text

    caplog.clear()
    root = _three_study_mutation_tree(tmp_path / "studies_d4")
    real_read = pipelines.read_maf
    monkeypatch.setattr(pipelines, "read_maf", _fail_reads_of("s_bb", real_read))
    rc = cli.main(["-mode", "convert-mutations", "-tsv-dir", root,
                   "-parquet-dir", str(tmp_path / "o2")])
    assert rc == 1
    assert "mutation files failed" in caplog.text

    caplog.clear()
    monkeypatch.setattr(pipelines, "read_maf", real_read)

    def broken_stage(*_args):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(pipelines, "_stage_grouped", broken_stage)
    rc = cli.main(["-mode", "convert-mutations", "-tsv-dir", root,
                   "-parquet-dir", str(tmp_path / "o3")])
    assert rc == 1
    assert "convert-mutations aborted" in caplog.text

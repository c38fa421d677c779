"""End-to-end pipelines mirroring the reference CLI modes.

Modes (cmd/cli/main.go:46-105): convert-cna, convert-cna-with-derived,
convert-mutations, combine-cna, combine-cna-with-derived,
combine-mutations.

One execution path per table kind: convert_cna_grouped and
convert_mutations_grouped_salvage each run the whole corpus as one
grouped Spark plan (one scan, one shuffle and one write per table,
whatever the study count) and write the reference's per-study layout,
``<studyDir>_<stem>_<table>.parquet`` with one part file each.

Dataflow parity (SURVEY §2.10):
  * D1/D2 one-pass multi-sink fan-out: the reference pipes one TSV scan
    into 2-3 concurrent parquet writers over Go channels. Here one
    multi-path text scan of every CNA matrix feeds every table through
    positional parsing and a broadcast header manifest. A file the raw
    tab split cannot parse (a csv quote char) converts alone through
    the per-file csv reader — a fallback for that file, not a mode.
  * D3 event-id threading across files: subsumed by the prefix-sum id
    assigner over all files at once (operators/mutation.py) — the
    sequential file loop disappears.
  * D4 per-file error isolation: mutations probe every file first; a
    file failing its read goes to the failure manifest and consumes no
    ids, the healthy files convert in one grouped job, and the failed
    ones are replayed one by one. CNA aborts on the first bad file
    (cna/transformer.go:30-45 vs mutation/transformer.go:37-73).
    Outputs are staged under ``<parquet_dir>/.grouped_staging*`` and
    renamed into place only after every table is written, so a failed
    run never leaves one table of a study without its siblings.
  * U1 combine: multi-path parquet read (union-all, duplicates kept)
    with one streaming write — the reference materializes each whole
    table in memory (cna/reader_parquet.go:60-64); Spark never does.
    Reader errors fail loud (intentional fix of :132-137).
"""

from __future__ import annotations

import glob as _glob
import logging
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from clickhouse_only_importer_prototype_spark.localframe import arrow_local_df
from clickhouse_only_importer_prototype_spark.operators import cna as cna_ops
from clickhouse_only_importer_prototype_spark.operators import mutation as mut_ops
from clickhouse_only_importer_prototype_spark.sinks.parquet import write_parquet
from clickhouse_only_importer_prototype_spark.sources.discovery import (
    discover_cna_files,
    discover_mutation_files,
)
from clickhouse_only_importer_prototype_spark.sources.tsv import (
    read_cna_matrix,
    read_maf,
)

logger = logging.getLogger(__name__)


# Characters java.net.URI leaves RAW in a path component (what
# Hadoop's Path/input_file_name actually emits): unreserved
# "_-!.~'()*" + punct ",;:$&+=" + "/@". Python's Path.as_uri()
# percent-encodes the sub-delims (= ! $ & ...) and would mismatch
# the scan tag for any filename containing one (verified empirically:
# the scan reports "x=y.txt", as_uri says "x%3Dy.txt").
_JAVA_URI_PATH_SAFE = "/!'()*,;:$&+=@-_.~"


def _spark_file_uri(path: str) -> str:
    """The URI ``input_file_name()`` reports for a local file:
    absolute, percent-encoded per java.net.URI path rules, NOT
    symlink-resolved. Spark's scan never calls realpath, so building
    manifest keys with ``Path.resolve()`` would make every file under
    a symlinked tsv_dir miss the broadcast manifest (guard failure) —
    abspath normalizes without resolving, matching the scan's own
    view. Non-ASCII chars stay raw like java.net.URI.toString()."""
    from urllib.parse import quote

    p = os.path.abspath(path)
    encoded = "".join(
        c if ord(c) > 0x7F else quote(c, safe=_JAVA_URI_PATH_SAFE)
        for c in p
    )
    return "file://" + encoded


def output_base(tsv_path: str, parquet_dir: str) -> str:
    """``<studyDir>_<file>`` naming (cna/transformer.go:266-297)."""
    study_dir = os.path.basename(os.path.dirname(tsv_path))
    stem = os.path.basename(tsv_path)
    for suffix in (".txt", ".tsv"):
        if stem.endswith(suffix):
            stem = stem[: -len(suffix)]
    return os.path.join(parquet_dir, f"{study_dir}_{stem}")


@dataclass
class RunSummary:
    processed: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.failed


def _base(item) -> str:
    """The reference's per-file output stem ``<studyDir>_<stem>``."""
    return os.path.basename(output_base(item.path, ""))


def _check_unique_bases(mode: str, inputs: list) -> None:
    """Raise up front if two inputs collide onto one ``<studyDir>_<stem>``
    (same stem under different parents): the per-study layout cannot
    represent both, and the later write would clobber the earlier."""
    from collections import Counter

    dup = {b for b, n in Counter(map(_base, inputs)).items() if n > 1}
    if dup:
        raise ValueError(
            f"{mode}: multiple inputs map to the same output base(s)"
            f" {sorted(dup)[:5]} — the per-study layout cannot"
            " represent both"
        )


@contextmanager
def _staging_dir(parquet_dir: str, name: str):
    """A fresh ``<parquet_dir>/<name>`` for one run's staged outputs,
    removed on every exit path."""
    path = os.path.join(parquet_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _stage_grouped(df: DataFrame, stage_dir: str, nparts: int, sort_cols) -> None:
    """Write a grouped frame to ``stage_dir`` hive-partitioned by its
    ``__base`` tag. ``repartition(n, __base)`` confines every file's
    rows to one task, so each output gets exactly one part file;
    ``sortWithinPartitions`` makes its row order deterministic. One
    shuffle + one write stage per table, whatever the file count."""
    from pyspark.sql import functions as F

    (
        df.repartition(nparts, F.col("__base"))
        .sortWithinPartitions("__base", *sort_cols)
        .write.mode("overwrite")
        .partitionBy("__base")
        .parquet(stage_dir)
    )


def _staged_moves(
    stage_dir: str,
    parquet_dir: str,
    bases: list[str],
    suffix: str,
    empty_schema,
) -> list[tuple[str, str]]:
    """Map each ``__base=<v>`` partition dir of a staged write to the
    reference's ``<base>_<suffix>.parquet`` name. Dir names carry
    Spark's %XX partition-value escaping (urllib unquote reverses).
    Bases with no partition dir (zero-data-row inputs) get a schema-
    only parquet staged via pyarrow — milliseconds, vs ~5s per tiny
    frame through the Python local-relation write path. A staged dir
    matching no input raises: silent output loss is never acceptable."""
    from urllib.parse import unquote

    import pyarrow.parquet as pa_pq

    found = {
        unquote(d[len("__base=") :]): os.path.join(stage_dir, d)
        for d in os.listdir(stage_dir)
        if d.startswith("__base=")
    }
    moves = []
    for i, base in enumerate(bases):
        src = found.pop(base, None)
        if src is None:
            src = os.path.join(stage_dir, f"_empty{i}")
            os.makedirs(src)
            pa_pq.write_table(
                empty_schema.empty_table(),
                os.path.join(src, "part-00000-empty.parquet"),
            )
        moves.append((src, os.path.join(parquet_dir, f"{base}_{suffix}.parquet")))
    if found:
        raise RuntimeError(
            "grouped mode: staging produced partition dirs with no"
            f" matching input: {sorted(found)[:5]}"
        )
    return moves


def _promote(moves: list[tuple[str, str]]) -> None:
    """Rename every staged output to its reference name, replacing an
    earlier run's output. Called only once ALL tables of a run are
    staged, so a failed write never leaves one table of a study (say
    ``*_mutation_event``) promoted without its siblings.

    Scale note: one driver-serial ``os.rename`` per output, ~zero cost
    to N=1,000; at N~100k studies thread-pool the renames (independent
    same-filesystem moves) or commit the mapping to a catalog."""
    for src, dest in moves:
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(src, dest)


def _arrow_schema_without_base(df: DataFrame):
    """pyarrow schema of a grouped frame minus the __base tag (all
    columns string except bigint ids) — for schema-only outputs."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                f.name,
                pa.int64()
                if f.dataType.simpleString() == "bigint"
                else pa.string(),
            )
            for f in df.schema.fields
            if f.name != "__base"
        ]
    )


def _nparts(spark: SparkSession, n_files: int) -> int:
    return max(1, min(n_files, spark.sparkContext.defaultParallelism * 4))


def _write_cna_outputs(
    spark: SparkSession, item, out_dir: str, with_derived: bool
) -> None:
    """Per-file csv conversion of one CNA matrix — the quote fallback
    of convert_cna_grouped. The csv reader applies quote='"', which the
    grouped plan's raw tab split cannot. One scan ->
    genetic_alterations + genetic_profile_samples (+ derived), one part
    file each, under ``out_dir``."""
    base = output_base(item.path, out_dir)
    study, profile = item.cancer_study_id, item.genetic_profile_id
    df = read_cna_matrix(spark, item.path)
    tables = {
        "genetic_alterations": cna_ops.genetic_alterations(df, study, profile),
        "genetic_profile_samples": cna_ops.genetic_profile_samples(
            spark, df, study, profile
        ),
    }
    if with_derived:
        tables["derived"] = cna_ops.cna_derived(df, study, profile)
    for suffix, out in tables.items():
        write_parquet(out, f"{base}_{suffix}.parquet", single_file=True)


def _cna_single_job_scan(
    spark: SparkSession, inputs: list
) -> tuple[list[tuple], list, DataFrame | None]:
    """Plan the grouped CNA scan: driver-side header parse (manifest +
    per-file sample lists), ONE multi-path ``spark.read.text`` scan,
    broadcast attribution join, the header/quote guard aggregation,
    and positional cell parsing. Returns ``(grouped, fallback, data)``:
    ``grouped`` pairs each file the plan converts with its sample ids,
    ``fallback`` lists the files left to the per-file csv writer, and
    ``data`` carries one row per data line of the grouped files with
    __base/__study/__profile/__sample_ids/__n/__cells (None when no
    file is grouped).

    Why one text scan: a union of one csv plan per study makes every
    branch its own scan node and codegen unit — 533.9s for 1000 small
    studies, slower than an 8-thread per-study loop (229s). A CNA
    header is per-study (sample columns differ), so same-header csv
    batching cannot apply, but the transforms are positional:
    ``split(value, '\\t')`` + slice/array_join/posexplode reproduce
    pivot-concat and melt, and per-file (study, profile, sample names)
    join in from a broadcast manifest (42.6s for the same corpus).
    Sample names use header_line_and_names — the same normalization
    (dup -> <name><idx>, empty -> _cN) the csv reader's df.columns
    yields.

    Header rows are dropped by byte-match against the file's raw header
    line (a line scan has no 'first line of its file' marker), so the
    guard requires exactly one match per file: a data row forged to
    byte-equal the header fails loud instead of being dropped (the csv
    path would keep it). A raw split has no quote semantics, so a file
    with a '"' in its header or in any cell is left out of the plan and
    converted alone by _write_cna_outputs. Header-count mismatches,
    files missing from the manifest and empty files abort the run."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.sources.tsv import (
        header_line_and_names,
    )

    manifest_rows = []
    grouped = []
    for item in inputs:
        parsed = header_line_and_names(item.path)
        if parsed is None:
            with open(item.path, encoding="utf-8", errors="replace") as fh:
                if '"' not in fh.readline():
                    raise ValueError(f"convert-cna: no header in {item.path}")
            continue
        raw, names = parsed
        sample_ids = [
            f"{item.cancer_study_id}_{c}"
            for c in names[cna_ops.FIRST_SAMPLE_IDX:]
        ]
        manifest_rows.append(
            (
                _spark_file_uri(item.path),
                item.cancer_study_id,
                item.genetic_profile_id,
                _base(item),
                raw,
                sample_ids,
            )
        )
        grouped.append((item, sample_ids))
    if not grouped:
        return [], list(inputs), None
    mf = arrow_local_df(
        spark,
        manifest_rows,
        "__file string, __study string, __profile string,"
        " __base string, __header string, __sample_ids array<string>",
    )
    lines = spark.read.text([it.path for it, _ in grouped]).select(
        F.col("value"), F.input_file_name().alias("__file")
    )
    tagged = lines.join(F.broadcast(mf), "__file", "left")
    missing = F.col("__study").isNull()
    is_header = F.col("value") == F.col("__header")
    # guard pass, one aggregation before anything is written: it
    # collects every file that breaks the header contract or holds a
    # quote char
    flagged = (
        tagged.groupBy("__file")
        .agg(
            F.sum(is_header.cast("int")).alias("n_hdr"),
            F.max(missing.cast("int")).alias("n_miss"),
            F.sum(F.col("value").contains('"').cast("int")).alias("n_quote"),
        )
        .where(
            (F.col("n_hdr") != 1)
            | (F.col("n_miss") > 0)
            | (F.col("n_quote") > 0)
        )
        .collect()
    )
    broken = [r for r in flagged if r["n_hdr"] != 1 or r["n_miss"] > 0]
    if broken:
        raise ValueError(
            "convert-cna: header guard failed for "
            + ", ".join(
                f"{r['__file']} (header_matches={r['n_hdr']},"
                f" in_manifest={not r['n_miss']})"
                for r in broken[:5]
            )
        )
    quoted_cells = {r["__file"] for r in flagged}
    if quoted_cells:
        grouped = [
            g for g in grouped if _spark_file_uri(g[0].path) not in quoted_cells
        ]
        tagged = tagged.where(~F.col("__file").isin(*quoted_cells))
    grouped_paths = {it.path for it, _ in grouped}
    fallback = [it for it in inputs if it.path not in grouped_paths]
    if not grouped:
        return [], fallback, None
    n_samples = F.size("__sample_ids")
    parts = F.split(F.col("value"), "\t")
    # pad to header width: the csv path yields NULL (-> '') for short
    # rows and drops fields beyond the schema; slice after padding
    # reproduces both
    padded = F.concat(
        parts,
        F.array_repeat(
            F.lit(""),
            F.greatest(
                F.lit(0),
                n_samples + F.lit(cna_ops.FIRST_SAMPLE_IDX) - F.size(parts),
            ),
        ),
    )
    # csv parity: the csv reader drops fully blank lines; text keeps
    # them — filter to match (a line of only tabs is NOT blank)
    data = tagged.where(~is_header & (F.col("value") != "")).select(
        "__base",
        "__study",
        "__profile",
        "__sample_ids",
        n_samples.alias("__n"),
        padded.alias("__cells"),
    )
    return grouped, fallback, data


def convert_cna_grouped(
    spark: SparkSession,
    tsv_dir: str,
    parquet_dir: str,
    with_derived: bool = False,
) -> int:
    """convert-cna[-with-derived] (cmd/cli/main.go:111-151): the
    reference's per-study-file layout (``<studyDir>_<stem>_{genetic_
    alterations,genetic_profile_samples[,derived]}.parquet`` —
    cna/transformer.go:266-297) from one grouped Spark plan.

    Alterations/derived come from _cna_single_job_scan's single text
    scan, staged hive-partitioned by the per-file output base and
    renamed to the reference filenames: one shuffle + one write stage
    per table regardless of study count. genetic_profile_samples is
    pure header metadata with EXACTLY one row per file, written
    driver-side via pyarrow (a Spark job per 1-row frame is ~5s of
    local-relation overhead times N). A file holding a csv quote char
    converts alone through _write_cna_outputs (logged).

    Zero-data-row matrices produce schema-only alterations/derived
    parquet; their sample list row still exists (header metadata needs
    no data rows — cna/transformer.go:498-508). Duplicate output bases
    are refused. CNA posture: abort on the first failure
    (cna/transformer.go:30-45) — every output is staged and promoted
    only after all tables are written, so an aborted run promotes
    nothing. Returns the number of files converted."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq
    from pyspark.sql import functions as F

    inputs = discover_cna_files(tsv_dir)
    logger.info("found %d CNA files", len(inputs))
    if not inputs:
        return 0
    _check_unique_bases("convert_cna_grouped", inputs)
    grouped, fallback, data = _cna_single_job_scan(spark, inputs)
    os.makedirs(parquet_dir, exist_ok=True)
    with _staging_dir(parquet_dir, ".grouped_staging_cna") as staging:
        moves = []
        if data is not None:
            bases = [_base(it) for it, _ in grouped]
            sample_slice = F.slice(
                F.col("__cells"), cna_ops.FIRST_SAMPLE_IDX + 1, F.col("__n")
            )
            gene = F.coalesce(F.col("__cells")[0], F.lit(""))
            ga = data.select(
                "__base",
                F.col("__study").alias("CANCER_STUDY"),
                F.col("__profile").alias("GENETIC_PROFILE"),
                gene.alias("GENE_SYMBOL"),
                F.array_join(sample_slice, ",").alias("VALUES"),
            )
            tables = [("genetic_alterations", ga, ["GENE_SYMBOL", "VALUES"])]
            if with_derived:
                exploded = data.select(
                    "__base",
                    "__study",
                    "__profile",
                    "__sample_ids",
                    gene.alias("__gene"),
                    F.posexplode(sample_slice).alias("__pos", "__alt"),
                )
                derived = exploded.select(
                    "__base",
                    F.element_at(
                        F.col("__sample_ids"), F.col("__pos") + 1
                    ).alias("SAMPLE_ID"),
                    F.col("__study").alias("CANCER_STUDY"),
                    F.col("__gene").alias("GENE_SYMBOL"),
                    F.col("__profile").alias("GENETIC_PROFILE"),
                    F.col("__alt").alias("ALTERATION"),
                )
                # ALTERATION in the sort key: a duplicated gene row with
                # different values would otherwise tie on (gene, sample)
                # and leave file byte-order run-dependent
                tables.append(
                    ("derived", derived, ["GENE_SYMBOL", "SAMPLE_ID", "ALTERATION"])
                )
            nparts = _nparts(spark, len(grouped))
            for suffix, df, sort_cols in tables:
                stage_dir = os.path.join(staging, suffix)
                _stage_grouped(df, stage_dir, nparts, sort_cols)
                moves += _staged_moves(
                    stage_dir,
                    parquet_dir,
                    bases,
                    suffix,
                    _arrow_schema_without_base(df),
                )
            gps_schema = pa.schema(
                [
                    pa.field(n, pa.string())
                    for n in (
                        "CANCER_STUDY",
                        "GENETIC_PROFILE",
                        "ORDERED_SAMPLE_LIST",
                    )
                ]
            )
            for (item, sample_ids), base in zip(grouped, bases):
                name = f"{base}_genetic_profile_samples.parquet"
                src = os.path.join(staging, "genetic_profile_samples", name)
                os.makedirs(src)
                pa_pq.write_table(
                    pa.table(
                        [
                            [item.cancer_study_id],
                            [item.genetic_profile_id],
                            [",".join(sample_ids)],
                        ],
                        schema=gps_schema,
                    ),
                    os.path.join(src, "part-00000.parquet"),
                )
                moves.append((src, os.path.join(parquet_dir, name)))
        if fallback:
            logger.warning(
                "%d CNA file(s) hold a csv quote char; converting each"
                " with the per-file csv reader: %s",
                len(fallback),
                [it.path for it in fallback],
            )
            fb_dir = os.path.join(staging, "fallback")
            for item in fallback:
                _write_cna_outputs(spark, item, fb_dir, with_derived)
            moves += [
                (os.path.join(fb_dir, n), os.path.join(parquet_dir, n))
                for n in sorted(os.listdir(fb_dir))
            ]
        _promote(moves)
    return len(inputs)


def _write_mutation_outputs(
    spark: SparkSession, item, parquet_dir: str, start: int
) -> int:
    """Per-file mutation write — the salvage replay of
    convert_mutations_grouped_salvage: read the MAF, assign ids from
    ``start``, write both per-study outputs (one part file each).
    Returns the next free id (an empty MAF keeps the counter unchanged
    — must not reset). On failure, partial outputs are removed (a stale
    mutation_event parquet would enter the combine glob with an id
    range another file may legitimately hold) and the error re-raised;
    the cached frame is unpersisted on EVERY path so a failed file
    never pins executor storage for the session."""
    base = output_base(item.path, parquet_dir)
    out_paths = (f"{base}_mutation_event.parquet", f"{base}_mutation.parquet")
    try:
        df = read_maf(spark, item.path)
        with_ids = mut_ops.with_sequential_ids(df, start=start).persist()
        try:
            write_parquet(
                mut_ops.mutation_event(with_ids), out_paths[0], single_file=True
            )
            write_parquet(
                mut_ops.mutation(
                    with_ids, item.cancer_study_id, item.genetic_profile_id
                ),
                out_paths[1],
                single_file=True,
            )
            return mut_ops.next_event_id(with_ids, start=start)
        finally:
            with_ids.unpersist()
    except Exception:
        for p in out_paths:
            shutil.rmtree(p, ignore_errors=True)
        raise


# Driver threads of the salvage probe: its per-file count jobs are
# blocking JVM calls, so threads overlap the scheduling waits.
_PROBE_THREADS = 8


def _probe_maf_counts(
    spark: SparkSession, inputs: list, failed: dict[str, str]
) -> dict[str, int]:
    """Salvage probe: one column-pruned count scan per file on
    ``_PROBE_THREADS`` driver threads. A file failing its read lands in
    ``failed`` and consumes no ids."""
    from concurrent.futures import ThreadPoolExecutor, as_completed

    counts: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=_PROBE_THREADS) as pool:

        def count_one(item) -> tuple[str, int]:
            return item.path, read_maf(spark, item.path).count()

        futures = {pool.submit(count_one, it): it for it in inputs}
        for fut in as_completed(futures):
            item = futures[fut]
            try:
                path, n = fut.result()
                counts[path] = n
            except Exception as exc:  # noqa: BLE001 — D4 isolation
                logger.error("failed to read %s: %s", item.path, exc)
                failed[item.path] = str(exc)
    return counts


def _maf_header_sig(path: str) -> str:
    """First non-``#`` line of a MAF — the csv header. Driver-side
    single-line read (one fs open per file, no Spark job): multi-path
    csv scans apply the FIRST file's header to every file, so the
    grouped plan may only batch files whose headers are identical."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            if not line.startswith("#"):
                return line.rstrip("\r\n")
    return ""


def _balanced_union(dfs: list[DataFrame]) -> DataFrame:
    """Pairwise unionByName — a log-depth plan tree instead of a
    left-deep chain (matters when unioning one frame per header
    group)."""
    while len(dfs) > 1:
        dfs = [
            dfs[i].unionByName(dfs[i + 1]) if i + 1 < len(dfs) else dfs[i]
            for i in range(0, len(dfs), 2)
        ]
    return dfs[0]


def _mutations_single_job_frames(
    spark: SparkSession, inputs: list, start_event_id: int
) -> list[DataFrame]:
    """Plan the grouped mutations scan over ``inputs``: header-
    signature grouping (Spark's multi-path csv scan applies the first
    file's header to every file, so only same-header files may share a
    scan), corpus-wide sequential ids in the order of ``inputs``
    (with_sequential_ids_multi + URI->rank map), and per-file
    study/profile/output-base attribution joined from a broadcast
    manifest keyed by the scan's file URI. Returns one frame per header
    group carrying the MAF columns + MUTATION_EVENT_ID +
    __file/__study/__profile/__base. A scan file missing from the
    manifest raises mid-plan (fail loud, never silently
    unattributed)."""
    from pyspark.sql import functions as F

    groups: dict[str, list] = {}
    for item in inputs:
        groups.setdefault(_maf_header_sig(item.path), []).append(item)
    frames = [
        read_maf(spark, [it.path for it in g]) for g in groups.values()
    ]
    # global id order = the order of ``inputs`` (discovery order),
    # carried by a URI->rank map: sorting the scan's percent-encoded
    # URIs lexicographically could permute exotic filenames
    # ('a b' -> 'a%20b') relative to the raw paths
    file_order = {
        _spark_file_uri(it.path): i for i, it in enumerate(inputs)
    }
    ranked = mut_ops.with_sequential_ids_multi(
        frames, start=start_event_id, file_order=file_order
    )
    manifest = [
        (
            _spark_file_uri(it.path),
            it.cancer_study_id,
            it.genetic_profile_id,
            _base(it),
        )
        for it in inputs
    ]
    mf = arrow_local_df(
        spark,
        manifest,
        "__file string, __study string, __profile string, __base string",
    )
    return [
        r.join(F.broadcast(mf), "__file", "left").withColumn(
            "__study",
            F.when(
                F.col("__study").isNull(),
                F.raise_error(
                    F.concat_ws(
                        " ",
                        F.lit(
                            "grouped mutations plan: scan file"
                            " missing from manifest:"
                        ),
                        F.col("__file"),
                    )
                ).cast("string"),
            ).otherwise(F.col("__study")),
        )
        for r in ranked
    ]


def _write_mutations_grouped(
    spark: SparkSession, parquet_dir: str, inputs: list, start_event_id: int
) -> None:
    """Grouped write of the probe-healthy ``inputs`` in the reference's
    per-study layout (``<studyDir>_<stem>_mutation[_event].parquet``).

    A per-study loop pays ~12 scheduler stages PER FILE (rank counts +
    window + 2 coalesce(1) writes + next-id agg), ~0.9s/study at
    N=1,000 — pure per-job overhead. Here the corpus runs as one plan
    (discovery-order ids, broadcast attribution), each table staged
    once by _stage_grouped and promoted by rename after both are
    written: one scan + one shuffle + one write stage per table,
    independent of study count. Inputs whose MAF has zero data rows
    get schema-only outputs, so the output SET covers every input.
    All-or-nothing: any failure raises and promotes nothing."""
    from pyspark.sql import functions as F

    joined_frames = _mutations_single_job_frames(spark, inputs, start_event_id)
    tables = (
        (
            "mutation_event",
            _balanced_union(
                [mut_ops.mutation_event(j, keep=("__base",)) for j in joined_frames]
            ),
        ),
        (
            "mutation",
            _balanced_union(
                [
                    mut_ops.mutation(
                        j, F.col("__study"), F.col("__profile"), keep=("__base",)
                    )
                    for j in joined_frames
                ]
            ),
        ),
    )
    bases = [_base(it) for it in inputs]
    nparts = _nparts(spark, len(inputs))
    with _staging_dir(parquet_dir, ".grouped_staging") as staging:
        moves = []
        for suffix, df in tables:
            stage_dir = os.path.join(staging, suffix)
            _stage_grouped(df, stage_dir, nparts, [mut_ops.EVENT_ID])
            moves += _staged_moves(
                stage_dir,
                parquet_dir,
                bases,
                suffix,
                _arrow_schema_without_base(df),
            )
        _promote(moves)


def convert_mutations_grouped_salvage(
    spark: SparkSession,
    tsv_dir: str,
    parquet_dir: str,
    start_event_id: int = 0,
) -> RunSummary:
    """convert-mutations (cmd/cli/main.go:396-424): event ids dense
    and gapless across all files in discovery order, per-file failures
    tolerated and reported (D4, mutation/transformer.go:37-73).

    Three phases:

      1. **Probe** — one column-pruned count scan per file
         (_probe_maf_counts). Failing files go to the failure manifest
         (``RunSummary.failed``) and consume no ids, as in the
         reference's sequential loop.
      2. **Grouped write** — _write_mutations_grouped over only the
         healthy files: one scan + one shuffle + one write per table,
         the corrupt file excluded instead of poisoning the job.
         Duplicate output bases are checked over ALL inputs up front
         (a replayed file must never clobber a healthy output). A
         failure here aborts the run.
      3. **Salvage replay** — each failed file retried through the
         per-file writer (_write_mutation_outputs: read -> ids -> both
         writes, partial outputs removed on failure). A deterministic
         corruption fails again and stays in the manifest; a transient
         failure recovers. A replayed success takes ids PAST the
         healthy range (unique, ordered, gapless within each phase) —
         splicing it back into discovery order would require rewriting
         every later file; the manifest names exactly which files took
         late ids.

    Returns a RunSummary (processed + failure manifest)."""
    inputs = discover_mutation_files(tsv_dir)
    logger.info("found %d mutation files", len(inputs))
    summary = RunSummary()
    if not inputs:
        return summary
    _check_unique_bases("convert_mutations_grouped_salvage", inputs)
    os.makedirs(parquet_dir, exist_ok=True)

    counts = _probe_maf_counts(spark, inputs, summary.failed)
    healthy = [it for it in inputs if it.path in counts]
    if healthy:
        _write_mutations_grouped(spark, parquet_dir, healthy, start_event_id)
        summary.processed = [it.path for it in healthy]

    # salvage replay of the manifest, fresh ids past the healthy range
    next_id = start_event_id + sum(counts.values())
    for item in inputs:  # discovery order, deterministic replay ids
        if item.path not in summary.failed:
            continue
        try:
            next_id = _write_mutation_outputs(
                spark, item, parquet_dir, next_id
            )
            del summary.failed[item.path]
            summary.processed.append(item.path)
            logger.info("salvaged %s (next id now %d)", item.path, next_id)
        except Exception as exc:  # noqa: BLE001 — D4 isolation
            logger.error("salvage replay failed for %s: %s", item.path, exc)
            summary.failed[item.path] = str(exc)

    summary.processed.sort()
    if summary.failed:
        logger.error(
            "%d/%d mutation files failed (manifest): %s",
            len(summary.failed),
            len(inputs),
            sorted(summary.failed),
        )
    return summary


def load_clickhouse(
    spark: SparkSession,
    parquet_dir: str,
    url: str,
    user: str | None = None,
    password: str | None = None,
    create_tables: bool = True,
) -> dict[str, int]:
    """convert -> load: the deployment tail of the S9 north star over
    the jar-free HTTP interface. For each catalog kind, union-all every
    ``*_<kind>.parquet`` (per-study outputs) plus a bare
    ``<kind>.parquet`` (the fused-combined form an earlier version's
    partitioned convert mode wrote) under
    ``parquet_dir`` in one multi-path scan and bulk-insert it with
    ``write_clickhouse_http`` — one distributed job per table.
    ``combined-*`` outputs are EXCLUDED: they are derivable duplicates
    of the per-study files sitting in the same directory (running
    combine then load would double every row); load the combined dir
    explicitly if that is the intent.

    Both naming forms present for one kind is REFUSED up front (same
    posture as the convert modes' duplicate-base check): per-study
    ``*_<kind>.parquet`` files next to a bare ``<kind>.parquet`` means
    a per-study run and a partitioned (fused-combined) run wrote into
    the same -parquet-dir — loading the union would silently double
    every row of that kind (round-10 advice).

    ``create_tables`` first executes the catalog DDL (MergeTree
    CREATE TABLE IF NOT EXISTS from sinks.clickhouse.catalog_ddl)
    driver-side over the same interface. Returns {table: rows_sent}
    for every kind that had files."""
    from clickhouse_only_importer_prototype_spark.schemas import ALL_TABLES
    from clickhouse_only_importer_prototype_spark.sinks.clickhouse import (
        catalog_ddl,
    )
    from clickhouse_only_importer_prototype_spark.sinks.clickhouse_http import (
        execute_clickhouse_http,
        write_clickhouse_http,
    )

    ddls = catalog_ddl()
    counts: dict[str, int] = {}
    for kind in ALL_TABLES:
        per_study = sorted(
            p
            for p in _glob.glob(os.path.join(parquet_dir, f"*_{kind}.parquet"))
            if not os.path.basename(p).startswith("combined")
        )
        bare = sorted(
            _glob.glob(os.path.join(parquet_dir, f"{kind}.parquet"))
        )
        if per_study and bare:
            raise ValueError(
                f"load_clickhouse: {kind!r} exists in BOTH naming forms"
                f" under {parquet_dir} — per-study"
                f" {[os.path.basename(p) for p in per_study[:3]]}... and"
                f" combined {[os.path.basename(p) for p in bare]};"
                " loading both would double every row. Point"
                " -parquet-dir at one run's output, or remove one form."
            )
        paths = per_study + bare
        if not paths:
            continue
        if create_tables:
            execute_clickhouse_http(url, ddls[kind], user, password)
        df = spark.read.parquet(*paths)
        counts[kind] = write_clickhouse_http(
            df, url, kind, user=user, password=password
        )
        logger.info(
            "loaded %d rows from %d file(s) into %s",
            counts[kind],
            len(paths),
            kind,
        )
    return counts


def combine_parquet(
    spark: SparkSession,
    pattern: str,
    output_path: str,
) -> int:
    """U1 union-all by glob (cna/reader_parquet.go:86-143).

    Duplicate-preserving: multi-path parquet scan IS union-all. The
    output file is excluded from its own input glob (:101-108). Returns
    the number of input files combined. Fails loud on reader errors —
    an intentional fix of the reference's silent truncation (:132-137).
    """
    paths = sorted(p for p in _glob.glob(pattern) if os.path.abspath(p) != os.path.abspath(output_path))
    if not paths:
        logger.warning("no files matched %s", pattern)
        return 0
    df: DataFrame = spark.read.parquet(*paths)
    write_parquet(df, output_path, single_file=True)
    return len(paths)


# Reference default for the -output flag (cmd/cli/main.go:59-63).
DEFAULT_COMBINE_OUTPUT = "combined-all-cna.parquet"


def combined_output_base(parquet_dir: str, output: str) -> str:
    """Combined-output base path, reference derivation
    (cmd/cli/main.go:198-237 generateCombinedOutputPaths[WithDerived],
    :561-579 generateCombinedMutationOutputPaths): an absolute output
    is used as-is, a relative one is joined with parquet_dir; a
    trailing ``.parquet`` suffix is stripped. Each table kind's file is
    then ``<base>_<kind>.parquet``."""
    base = output if os.path.isabs(output) else os.path.join(parquet_dir, output)
    if base.endswith(".parquet"):
        base = base[: -len(".parquet")]
    return base


def combine_cna(
    spark: SparkSession,
    parquet_dir: str,
    with_derived: bool = False,
    output: str = DEFAULT_COMBINE_OUTPUT,
) -> dict[str, int]:
    """combine-cna[-with-derived] (cmd/cli/main.go:153-196)."""
    kinds = ["genetic_alterations", "genetic_profile_samples"]
    if with_derived:
        kinds.append("derived")
    base = combined_output_base(parquet_dir, output)
    out = {}
    for kind in kinds:
        pattern = os.path.join(parquet_dir, f"*_{kind}.parquet")
        out[kind] = combine_parquet(spark, pattern, f"{base}_{kind}.parquet")
    return out


def combine_mutations(
    spark: SparkSession,
    parquet_dir: str,
    output: str = DEFAULT_COMBINE_OUTPUT,
) -> dict[str, int]:
    """combine-mutations (cmd/cli/main.go:538-559)."""
    base = combined_output_base(parquet_dir, output)
    out = {}
    for kind in ("mutation_event", "mutation"):
        pattern = os.path.join(parquet_dir, f"*_{kind}.parquet")
        out[kind] = combine_parquet(spark, pattern, f"{base}_{kind}.parquet")
    return out

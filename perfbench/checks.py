"""Output checks, run outside the timed passes.

Import workloads: the combined parquet tables must hold the manifest's
row counts and the same multiset of rows as an expectation derived
here, independently of Spark, from the generated TSVs. Query workload:
each collected result must equal its DuckDB oracle under the
canonicalisation of ``cli.py -oracle``.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import pyarrow.parquet as pq

from clickhouse_only_importer_prototype_spark.schemas import (
    ALL_TABLES,
    MUTATION_COLUMNS,
    MUTATION_EVENT_COLUMNS,
)
from clickhouse_only_importer_prototype_spark.sources.discovery import parse_meta_file

_MASK = (1 << 64) - 1


def _row_hash(row: dict) -> int:
    key = "\x1f".join(f"{k}={row[k]}" for k in sorted(row))
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")


class MultisetHash:
    """Order-insensitive hash of a row multiset: sum of row hashes."""

    def __init__(self) -> None:
        self.n = 0
        self.h = 0

    def add(self, row: dict) -> None:
        self.n += 1
        self.h = (self.h + _row_hash(row)) & _MASK

    def __eq__(self, other) -> bool:
        return (self.n, self.h) == (other.n, other.h)

    def __repr__(self) -> str:
        return f"(rows={self.n}, hash={self.h:016x})"


def _read_tsv(path: str, comment: bool) -> tuple[list[str], list[list[str]]]:
    with open(path) as fh:
        lines = [ln.rstrip("\n") for ln in fh]
    if comment:
        lines = [ln for ln in lines if not ln.startswith("#")]
    rows = [ln.split("\t") for ln in lines if ln]
    return rows[0], rows[1:]


def expected_tables(studies_root: str) -> dict[str, MultisetHash]:
    """Row-multiset hash per catalog table, from the TSVs alone."""
    out = {kind: MultisetHash() for kind in ALL_TABLES}
    event_id = 0
    for study_dir in sorted(glob.glob(os.path.join(studies_root, "*"))):
        study, stable, data = parse_meta_file(os.path.join(study_dir, "meta_cna.txt"))
        profile = f"{study}_{stable}"
        header, rows = _read_tsv(os.path.join(study_dir, data), comment=False)
        samples = header[2:]
        out["genetic_profile_samples"].add({
            "CANCER_STUDY": study,
            "GENETIC_PROFILE": profile,
            "ORDERED_SAMPLE_LIST": ",".join(f"{study}_{s}" for s in samples),
        })
        for r in rows:
            out["genetic_alterations"].add({
                "CANCER_STUDY": study, "GENETIC_PROFILE": profile,
                "GENE_SYMBOL": r[0], "VALUES": ",".join(r[2:]),
            })
            for s, v in zip(samples, r[2:]):
                out["derived"].add({
                    "SAMPLE_ID": f"{study}_{s}", "CANCER_STUDY": study,
                    "GENE_SYMBOL": r[0], "GENETIC_PROFILE": profile,
                    "ALTERATION": v,
                })
    # event ids run over the MAFs in sorted path order, rows in file order
    for study_dir in sorted(glob.glob(os.path.join(studies_root, "*"))):
        study, stable, data = parse_meta_file(
            os.path.join(study_dir, "meta_mutations.txt")
        )
        profile = f"{study}_{stable}"
        header, rows = _read_tsv(os.path.join(study_dir, data), comment=True)
        for r in rows:
            rec = dict(zip(header, r))
            ev = {"MUTATION_EVENT_ID": event_id}
            ev.update((c, rec.get(src, "") if src else "") for c, src in MUTATION_EVENT_COLUMNS)
            out["mutation_event"].add(ev)
            mu = {
                "MUTATION_EVENT_ID": event_id,
                "GENETIC_PROFILE_ID": profile,
                "SAMPLE_ID": f"{study}_{rec.get('Tumor_Sample_Barcode', '')}",
            }
            mu.update((c, rec.get(src, "") if src else "") for c, src in MUTATION_COLUMNS)
            out["mutation"].add(mu)
            event_id += 1
    return out


def check_combined(out_dir: str, studies_root: str, manifest: dict) -> list[str]:
    """Compare the ``combined-all-cna_<kind>.parquet`` outputs with
    the manifest counts and the TSV-derived row hashes. Returns one
    message per failed check (empty when all pass)."""
    expected = expected_tables(studies_root)
    errors = []
    for kind, schema in ALL_TABLES.items():
        path = os.path.join(out_dir, f"combined-all-cna_{kind}.parquet")
        tbl = pq.read_table(path)
        if tbl.column_names != schema.names:
            errors.append(f"{kind}: columns {tbl.column_names} != {schema.names}")
            continue
        got = MultisetHash()
        for row in tbl.to_pylist():
            got.add(row)
        if got.n != manifest["rows"][kind]:
            errors.append(f"{kind}: {got.n} rows, manifest says {manifest['rows'][kind]}")
        if got != expected[kind]:
            errors.append(f"{kind}: content {got} != expected {expected[kind]}")
    return errors


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _canon_rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def check_oracle(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """``cli.py -oracle``'s comparison: columns, row count and the
    canonical sorted rows. Returns a message on mismatch."""
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"{len(rows)} rows != oracle {len(d_rows)}"
    if _canon_rows(cols, rows) != _canon_rows(d_cols, d_rows):
        return "values differ from oracle"
    return None

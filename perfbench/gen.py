"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random``-compatible seed. The seed
changes cell values, gene order, sample names and text; it never
changes the declared sizes, so the per-table row counts each generator
writes into its manifest depend only on the size arguments.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# MAF columns of the wide tree: 22 columns, 19 of them mapped into
# mutation_event / mutation by the importer.
MAF_COLUMNS = (
    "Hugo_Symbol", "Entrez_Gene_Id", "Center", "NCBI_Build", "Chromosome",
    "Start_Position", "End_Position", "Strand", "Variant_Classification",
    "Variant_Type", "Reference_Allele", "Tumor_Seq_Allele1",
    "Tumor_Seq_Allele2", "dbSNP_RS", "dbSNP_Val_Status",
    "Tumor_Sample_Barcode", "Matched_Norm_Sample_Barcode", "HGVSp_Short",
    "t_alt_count", "t_ref_count", "n_alt_count", "n_ref_count",
)
# the narrow MAF of the many-small tree (bench_parity.gen_study_tree shape)
SMALL_MAF_COLUMNS = (
    "Hugo_Symbol", "Entrez_Gene_Id", "Tumor_Sample_Barcode",
    "Variant_Classification", "Center",
)
VARIANT_CLASSES = (
    "Missense_Mutation", "Nonsense_Mutation", "Silent",
    "Frame_Shift_Del", "In_Frame_Ins",
)
BASES = "ACGT"


def _write_meta(path: str, study: str, stable_id: str, data: str) -> None:
    with open(path, "w") as fh:
        fh.write(
            f"cancer_study_identifier: {study}\n"
            f"stable_id: {stable_id}\n"
            f"data_filename: {data}\n"
        )


def _maf_row(rng: random.Random, sym: str, ent: int, barcode: str) -> dict:
    start = rng.randrange(1, 200_000_000)
    ref = rng.choice(BASES)
    alt = rng.choice(BASES.replace(ref, ""))
    return {
        "Hugo_Symbol": sym,
        "Entrez_Gene_Id": str(ent),
        "Center": rng.choice(("broad.mit.edu", "mskcc.org", "bcgsc.ca")),
        "NCBI_Build": "GRCh37",
        "Chromosome": str(rng.randrange(1, 23)),
        "Start_Position": str(start),
        "End_Position": str(start + rng.randrange(0, 3)),
        "Strand": "+",
        "Variant_Classification": rng.choice(VARIANT_CLASSES),
        "Variant_Type": "SNP",
        "Reference_Allele": ref,
        "Tumor_Seq_Allele1": ref,
        "Tumor_Seq_Allele2": alt,
        "dbSNP_RS": rng.choice(("novel", f"rs{rng.randrange(1, 10**8)}")),
        "dbSNP_Val_Status": rng.choice(("", "byFrequency", "by1000G")),
        "Tumor_Sample_Barcode": barcode,
        "Matched_Norm_Sample_Barcode": barcode + "-N",
        "HGVSp_Short": f"p.X{rng.randrange(1, 2000)}Y",
        "t_alt_count": str(rng.randrange(0, 200)),
        "t_ref_count": str(rng.randrange(0, 400)),
        "n_alt_count": str(rng.randrange(0, 50)),
        "n_ref_count": str(rng.randrange(0, 400)),
    }


def gen_study_tree(root: str, seed: int, groups: list[dict]) -> dict:
    """Write one study tree under ``root`` and return its manifest of
    expected per-table row counts (also written to
    ``root/../manifest.json``).

    Each entry of ``groups`` adds ``n_studies`` study dirs named
    ``<prefix>_<i>_<seeded suffix>``. Each study holds meta+data CNA
    (``n_genes`` x ``n_samples``), meta+data MAF (``n_maf_rows`` rows
    after a ``#version`` comment line), a ``case_lists/`` decoy and a
    ``.seg`` decoy, which discovery must skip. ``wide_maf`` selects the
    22-column MAF, else the 5-column MAF of
    ``bench_parity.gen_study_tree``.
    """
    rng = random.Random(seed)
    rows = dict.fromkeys(
        ("genetic_alterations", "genetic_profile_samples", "derived",
         "mutation_event", "mutation"), 0
    )
    n_total = 0
    for g in groups:
        n_genes, n_samples, n_maf = g["n_genes"], g["n_samples"], g["n_maf_rows"]
        universe = [
            (f"G{k:05d}", 100_000 + k) for k in range(max(n_genes * 2, 40))
        ]
        cols = MAF_COLUMNS if g["wide_maf"] else SMALL_MAF_COLUMNS
        for i in range(g["n_studies"]):
            study = f"{g['prefix']}_{i:05d}_{rng.randrange(10**6):06d}"
            d = os.path.join(root, study)
            os.makedirs(os.path.join(d, "case_lists"))
            samples = [
                f"TCGA-{rng.randrange(16**6):06X}-{j:03d}" for j in range(n_samples)
            ]
            genes = rng.sample(universe, n_genes)
            _write_meta(os.path.join(d, "meta_cna.txt"), study, "cna", "data_cna.txt")
            with open(os.path.join(d, "data_cna.txt"), "w") as fh:
                fh.write("Hugo_Symbol\tEntrez_Gene_Id\t" + "\t".join(samples) + "\n")
                for sym, ent in genes:
                    vals = [str(rng.randrange(5) - 2) for _ in range(n_samples)]
                    fh.write(f"{sym}\t{ent}\t" + "\t".join(vals) + "\n")
            _write_meta(
                os.path.join(d, "meta_mutations.txt"),
                study, "mutations", "data_mutations.txt",
            )
            with open(os.path.join(d, "data_mutations.txt"), "w") as fh:
                fh.write("#version 2.4\n")
                fh.write("\t".join(cols) + "\n")
                for _ in range(n_maf):
                    sym, ent = rng.choice(genes)
                    row = _maf_row(rng, sym, ent, rng.choice(samples))
                    fh.write("\t".join(row[c] for c in cols) + "\n")
            with open(os.path.join(d, "case_lists", "cases_all.txt"), "w") as fh:
                fh.write("decoy\n")
            with open(os.path.join(d, "data_cna_hg19.seg"), "w") as fh:
                fh.write("decoy\n")
        n = g["n_studies"]
        n_total += n
        rows["genetic_alterations"] += n * n_genes
        rows["genetic_profile_samples"] += n
        rows["derived"] += n * n_genes * n_samples
        rows["mutation_event"] += n * n_maf
        rows["mutation"] += n * n_maf
    manifest = {"studies": n_total, "rows": rows}
    with open(os.path.join(os.path.dirname(root), "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


# --- LLM-ops tables (the shape of the registry's documents/embeddings) ---

VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row agg key query scan batch"
).split()
# rarer terms, so that some document frequencies fall below half the
# corpus (bm25_topdocs scores only such terms)
RARE = [f"term{k:02d}" for k in range(60)]
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def gen_llm_tables(
    sf_dir: str, seed: int, n_docs: int, n_vecs: int, dim: int = 64
) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` to
    ``sf_dir`` with the column types of the registry's tables.

    Documents are bags of words over a 31-word vocabulary plus 60
    rarer terms, with about 3% near-copies of earlier documents, so the
    dedup and containment queries find pairs. Embeddings are unit
    vectors around ten seeded cluster centres, with about 3%
    near-copies.
    """
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = [
                rng.choice(RARE) if rng.random() < 0.08 else rng.choice(VOCAB)
                for _ in range(rng.randrange(8, 100))
            ]
        texts.append(" ".join(words))
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    centres = nrng.normal(size=(10, dim))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = centres[labels] + nrng.normal(scale=1.5, size=(n_vecs, dim))
    copies = np.flatnonzero(nrng.random(n_vecs) < 0.03)
    copies = copies[copies > 0]
    src = (nrng.random(len(copies)) * copies).astype(np.int64)
    vecs[copies] = vecs[src] + nrng.normal(scale=0.01, size=(len(copies), dim))
    labels[copies] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}

"""Study-COUNT scale tier for the reference-parity CLI surface.

Every query family has measured 10x/100x/1000x row-count vectors, but
the reference's actual workload scales on a different axis: the NUMBER
of studies (cmd/cli/main.go walks a directory of study dirs). This
harness generates a synthetic study tree with N small studies (the
axis is count, not per-study bytes) and times the two convert paths
(convert_cna_grouped with derived, convert_mutations_grouped_salvage)
and both combines end-to-end:

    python bench_parity.py                 # N=100
    python bench_parity.py 1000            # N=1000
    python bench_parity.py 100 1000        # both tiers

Prints one JSON line per tier and merges all tiers into
BENCH_parity.json. Study shape: 20 genes x 8 samples CNA + 12-row MAF
per study — small enough that all measured cost is per-study overhead
(driver work, job scheduling, plan analysis), the thing this tier
exists to expose. Each tier's entry in BENCH_parity.json is replaced
whole, so it carries only the paths that exist.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickhouse_only_importer_prototype_spark.plans import pipelines  # noqa: E402
from clickhouse_only_importer_prototype_spark.session import get_spark  # noqa: E402

GENES = [
    ("TP53", 7157), ("EGFR", 1956), ("KRAS", 3845), ("BRCA1", 672),
    ("BRCA2", 675), ("PTEN", 5728), ("RB1", 5925), ("APC", 324),
    ("MYC", 4609), ("ALK", 238), ("BRAF", 673), ("NRAS", 4893),
    ("PIK3CA", 5290), ("AKT1", 207), ("CDH1", 999), ("VHL", 7428),
    ("MLH1", 4292), ("MSH2", 4436), ("ATM", 472), ("NF1", 4763),
]
VARIANT_CLASSES = (
    "Missense_Mutation", "Nonsense_Mutation", "Silent",
    "Frame_Shift_Del", "In_Frame_Ins",
)


def gen_study_tree(root: str, n_studies: int) -> None:
    """N studies, each: meta+data CNA (20 genes x 8 samples), meta+data
    MAF (12 rows), a case_lists/ decoy and a *seg* decoy (the discovery
    filters must pay their cost at count scale too). Deterministic
    content — value distribution does not matter on this axis."""
    for i in range(n_studies):
        study = f"study_{i:05d}"
        d = os.path.join(root, study)
        os.makedirs(os.path.join(d, "case_lists"), exist_ok=True)
        with open(os.path.join(d, "meta_cna.txt"), "w") as fh:
            fh.write(
                f"cancer_study_identifier: {study}\n"
                "stable_id: cna\n"
                "data_filename: data_cna.txt\n"
            )
        samples = [f"S{i:05d}_{j}" for j in range(8)]
        with open(os.path.join(d, "data_cna.txt"), "w") as fh:
            fh.write("Hugo_Symbol\tEntrez_Gene_Id\t" + "\t".join(samples) + "\n")
            for g, (sym, ent) in enumerate(GENES):
                vals = [str(((i + g + j) % 5) - 2) for j in range(8)]
                fh.write(f"{sym}\t{ent}\t" + "\t".join(vals) + "\n")
        with open(os.path.join(d, "meta_mutations.txt"), "w") as fh:
            fh.write(
                f"cancer_study_identifier: {study}\n"
                "stable_id: mutations\n"
                "data_filename: data_mutations.txt\n"
            )
        with open(os.path.join(d, "data_mutations.txt"), "w") as fh:
            fh.write("#version 2.4\n")
            fh.write(
                "Hugo_Symbol\tEntrez_Gene_Id\tTumor_Sample_Barcode\t"
                "Variant_Classification\tCenter\n"
            )
            for r in range(12):
                sym, ent = GENES[(i + r) % len(GENES)]
                fh.write(
                    f"{sym}\t{ent}\t{samples[r % 8]}\t"
                    f"{VARIANT_CLASSES[(i + r) % 5]}\tC1\n"
                )
        with open(os.path.join(d, "case_lists", "cases_all.txt"), "w") as fh:
            fh.write("decoy\n")
        with open(os.path.join(d, "data_cna_hg19.seg"), "w") as fh:
            fh.write("decoy\n")


def run_tier(spark, n_studies: int) -> dict:
    work = tempfile.mkdtemp(prefix=f"parity_{n_studies}_")
    studies = os.path.join(work, "studies")
    t0 = time.perf_counter()
    gen_study_tree(studies, n_studies)
    gen_sec = time.perf_counter() - t0
    timings: dict[str, float] = {}

    def timed(name, fn, *args, **kw):
        t = time.perf_counter()
        res = fn(*args, **kw)
        timings[name] = round(time.perf_counter() - t, 2)
        print(
            f"  [parity n={n_studies}] {name}: {timings[name]}s",
            file=sys.stderr,
        )
        return res

    out_cna = os.path.join(work, "out_cna")
    out_mut = os.path.join(work, "out_mut")
    n = timed(
        "convert_cna_grouped_with_derived",
        pipelines.convert_cna_grouped, spark, studies, out_cna, True,
    )
    assert n == n_studies
    # the happy-path price of D4 isolation is the probe's per-file
    # count scans on top of the grouped job
    s = timed(
        "convert_mutations_grouped_salvage",
        pipelines.convert_mutations_grouped_salvage, spark, studies, out_mut,
    )
    assert len(s.processed) == n_studies, s.failed
    timed("combine_cna_with_derived", pipelines.combine_cna, spark, out_cna, True)
    timed("combine_mutations", pipelines.combine_mutations, spark, out_mut)
    shutil.rmtree(work, ignore_errors=True)
    per_study = {
        k: round(v / n_studies, 4) for k, v in timings.items()
        if k.startswith("convert")
    }
    return {
        "metric": "parity_study_count_tier",
        "n_studies": n_studies,
        "gen_sec": round(gen_sec, 2),
        "timings_sec": timings,
        "per_study_sec": per_study,
        "unit": "sec",
    }


def main() -> None:
    tiers = [int(a) for a in sys.argv[1:]] or [100]
    spark = get_spark(app_name="bench-parity")
    results = []
    for n in tiers:
        r = run_tier(spark, n)
        results.append(r)
        print(json.dumps(r))
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_parity.json"
    )
    merged = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                merged = json.load(fh)
        except Exception:
            merged = {}
    for r in results:
        merged[str(r["n_studies"])] = r
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1)


if __name__ == "__main__":
    main()

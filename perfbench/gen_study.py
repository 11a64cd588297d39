"""Seeded synthetic iAtlas study for the export-chain workloads.

``generate(out_dir, seed, shape)`` writes one directory per dataset::

    <dataset>/clinical.tsv     sample rows: ids, study columns, attributes
    <dataset>/oncotree.tsv     (TCGA_Study, AMADEUS_Study, Dataset) -> code
    <dataset>/codes.tsv        code -> CANCER_TYPE, CANCER_TYPE_DETAILED
    <dataset>/mapping.tsv      iATLAS_attribute -> NORMALIZED_HEADER, type, Case
    <dataset>/neoantigen.tsv   Sample_ID + counts, one row per sequenced sample
    <dataset>/mafs/*.maf       118-column MAF, ``#version`` comment line first

and ``expected.json`` with what a correct export must contain per dataset:
the sorted ``cases_sequenced`` ids (samples with at least one non-chrM
variant), the loaded MAF row count (non-chrM variants) and the input
variant count (every row the ``maf`` command reads).

Properties the chain depends on:

- about 4% of variants sit on ``chrM`` and are dropped by ``drop_chrm``;
- ``Reference_Allele != Tumor_Seq_Allele2`` on every row (``validate``'s
  ``maf_ref_equals_alt`` rule);
- about a fifth of the attribute columns are sparse or entirely null, so
  the all-null prune (P5) has work;
- a dataset named ``Anders_JITC_2022`` carries ``-nd-``/``-ad-``/``-nr-``
  sample ids that the scoped regex filter removes; those samples get no
  variants, so the MAF barcodes stay a subset of the clinical samples;
- mapping rows cover PATIENT and SAMPLE attributes and both ``Case`` modes.

Only the standard library and the 118-column list are used, so the same
seed and shape always give byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass

from iatlas_cbioportal_export_spark.sources.maf_schema import REQUIRED_MAF_COLS

ANDERS = "Anders_JITC_2022"
DATASET_NAMES = (
    ANDERS,
    "Gide_Cell_2019",
    "HugoLo_IPRES_2016",
    "Liu_NM_2019",
    "Riaz_Nivolumab_2017",
    "Prins_GBM_2019",
    "VanAllen_antiCTLA4_2015",
    "Zhao_NM_2019",
)
# (TCGA_Study, AMADEUS_Study) -> (ONCOTREE_CODE, CANCER_TYPE, detailed)
STUDIES = (
    ("SKCM", "skcm_amadeus", "SKCM", "Melanoma", "Cutaneous Melanoma"),
    ("LUAD", "luad_amadeus", "LUAD", "Non-Small Cell Lung Cancer", "Lung Adenocarcinoma"),
    ("GBM", "gbm_amadeus", "GBM", "Glioma", "Glioblastoma Multiforme"),
    ("BLCA", "blca_amadeus", "BLCA", "Bladder Cancer", "Bladder Urothelial Carcinoma"),
    ("KIRC", "kirc_amadeus", "CCRCC", "Renal Cell Carcinoma", "Renal Clear Cell Carcinoma"),
)
GENES = (
    ("TP53", 7157), ("KRAS", 3845), ("EGFR", 1956), ("BRAF", 673),
    ("PTEN", 5728), ("NRAS", 4893), ("PIK3CA", 5290), ("CDKN2A", 1029),
    ("NF1", 4763), ("ARID1A", 8289), ("TTN", 7273), ("MUC16", 94025),
)
CHROMS = tuple(f"chr{i}" for i in range(1, 23)) + ("chrX",)
BASES = "ACGT"
CHRM_SHARE = 0.04
FILTERED_TAGS = ("-nd-", "-ad-", "-nr-")

# Clinical input columns: (input name, NORMALIZED_HEADER, ATTRIBUTE_TYPE, Case).
# Patient attributes are a function of the patient, so the patient view
# deduplicates to one row per patient.
ATTRIBUTES = (
    ("TCGA_Study", "TCGA_STUDY", "SAMPLE", "CAPS"),
    ("AMADEUS_Study", "AMADEUS_STUDY", "SAMPLE", ""),
    ("tissue_site", "TISSUE_SITE", "SAMPLE", "Title Case"),
    ("purity", "PURITY", "SAMPLE", ""),
    ("sample_type", "SAMPLE_TYPE", "SAMPLE", "CAPS"),
    ("tmb_class", "TMB_CLASS", "SAMPLE", ""),
    ("ploidy_sparse", "PLOIDY", "SAMPLE", ""),
    ("msi_score_null", "MSI_SCORE", "SAMPLE", ""),
    ("ONCOTREE_CODE", "ONCOTREE_CODE", "SAMPLE", ""),
    ("neoantigen_count", "NEOANTIGEN_COUNT", "SAMPLE", ""),
    ("os_status", "OS_STATUS", "PATIENT", ""),
    ("os_days", "OS_MONTHS", "PATIENT", ""),
    ("age_at_diagnosis", "AGE", "PATIENT", ""),
    ("sex", "SEX", "PATIENT", "Title Case"),
    ("smoking_sparse", "SMOKING_HISTORY", "PATIENT", ""),
    ("race_null", "RACE", "PATIENT", ""),
)


@dataclass(frozen=True)
class Shape:
    datasets: int
    samples: int  # per dataset
    variants: int  # per dataset
    maf_files: int  # per dataset


def _dataset_names(n: int) -> list[str]:
    if n > len(DATASET_NAMES):
        raise ValueError(f"at most {len(DATASET_NAMES)} datasets")
    return list(DATASET_NAMES[:n])


def _write_tsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w") as fh:
        fh.write("\t".join(header) + "\n")
        for row in rows:
            fh.write("\t".join(row) + "\n")


def _dataset(rng: random.Random, out: str, name: str, shape: Shape) -> dict:
    os.makedirs(os.path.join(out, "mafs"), exist_ok=True)
    tag = "".join(c for c in name if c.isupper())[:3] or "DS"

    # --- samples and patients -------------------------------------------
    samples = []  # (sample_id, patient_idx, study_idx, filtered)
    n_patients = max(1, int(shape.samples / 1.3))
    for i in range(shape.samples):
        filtered = name == ANDERS and i % 10 == 3
        mid = rng.choice(FILTERED_TAGS) if filtered else "-"
        patient = i if i < n_patients else rng.randrange(n_patients)
        samples.append((f"{tag}{mid}{i:05d}", patient, rng.randrange(len(STUDIES)), filtered))
    patients = {}
    for p in range(n_patients):
        patients[p] = {
            "os_status": str(rng.randrange(2)),
            "os_days": str(rng.randrange(30, 3000)),
            "age_at_diagnosis": str(rng.randrange(25, 90)),
            "sex": rng.choice(("female", "male")),
            "smoking_sparse": rng.choice(("current_smoker", "never")) if rng.random() < 0.1 else "",
            "race_null": "",
        }

    # --- variants: only unfiltered samples; some samples get none, some
    # only chrM variants -------------------------------------------------
    eligible = [s for s in samples if not s[3]]
    carriers = [s[0] for s in eligible if rng.random() < 0.85]
    chrm_only = set(rng.sample(carriers, k=max(1, len(carriers) // 50)))
    variants = []  # (barcode, chrom, pos, ref, alt, gene, entrez, t_ref, t_alt)
    for v in range(shape.variants):
        barcode = carriers[v % len(carriers)] if v < len(carriers) else rng.choice(carriers)
        chrom = "chrM" if barcode in chrm_only or rng.random() < CHRM_SHARE else rng.choice(CHROMS)
        ref = rng.choice(BASES)
        alt = rng.choice(BASES.replace(ref, ""))
        gene, entrez = rng.choice(GENES)
        variants.append(
            (barcode, chrom, rng.randrange(1, 200_000_000), ref, alt, gene, entrez,
             rng.randrange(5, 200), rng.randrange(1, 80))
        )
    sequenced = sorted({v[0] for v in variants if v[1] != "chrM"})
    seq_set = set(sequenced)
    neo_counts = {s: rng.randrange(0, 400) for s in sequenced}

    # --- clinical ---------------------------------------------------------
    in_cols = ["sample_name", "patient_name", "Dataset"] + [
        a[0] for a in ATTRIBUTES if a[0] not in ("ONCOTREE_CODE", "neoantigen_count")
    ]
    rows = []
    for sid, p, st, _filtered in samples:
        tcga, amadeus = STUDIES[st][0], STUDIES[st][1]
        values = {
            "sample_name": sid,
            "patient_name": f"{tag}-P{p:05d}",
            "Dataset": name,
            "TCGA_Study": tcga,
            "AMADEUS_Study": amadeus,
            "tissue_site": rng.choice(("primary_tumor", "lymph_node", "metastasis")),
            "purity": f"{rng.random():.4f}",
            "sample_type": rng.choice(("tumor", "normal_adjacent")),
            "tmb_class": rng.choice(("high", "low", "")),
            "ploidy_sparse": f"{1.5 + rng.random() * 3:.3f}" if rng.random() < 0.05 else "",
            "msi_score_null": "",
            **patients[p],
        }
        rows.append([values[c] for c in in_cols])
    _write_tsv(os.path.join(out, "clinical.tsv"), in_cols, rows)
    _write_tsv(
        os.path.join(out, "oncotree.tsv"),
        ["TCGA_Study", "AMADEUS_Study", "Dataset", "ONCOTREE_CODE"],
        [[s[0], s[1], name, s[2]] for s in STUDIES],
    )
    _write_tsv(
        os.path.join(out, "codes.tsv"),
        ["ONCOTREE_CODE", "CANCER_TYPE", "CANCER_TYPE_DETAILED"],
        [[s[2], s[3], s[4]] for s in STUDIES],
    )
    _write_tsv(
        os.path.join(out, "mapping.tsv"),
        ["iATLAS_attribute", "NORMALIZED_HEADER", "ATTRIBUTE_TYPE", "Case"],
        [list(a) for a in ATTRIBUTES],
    )
    # The clinical join reads SAMPLE_ID; validate's V13 check reads
    # Sample_ID. Spark resolves column names case-insensitively, so one
    # file serves both.
    _write_tsv(
        os.path.join(out, "neoantigen.tsv"),
        ["Sample_ID", "neoantigen_count"],
        [[s, str(neo_counts[s])] for s in sequenced],
    )

    # --- MAF files --------------------------------------------------------
    col_index = {c: i for i, c in enumerate(REQUIRED_MAF_COLS)}
    per_file = -(-len(variants) // shape.maf_files)
    for f in range(shape.maf_files):
        lines = ["#version 2.4", "\t".join(REQUIRED_MAF_COLS)]
        for barcode, chrom, pos, ref, alt, gene, entrez, t_ref, t_alt in variants[
            f * per_file : (f + 1) * per_file
        ]:
            row = [""] * len(REQUIRED_MAF_COLS)
            for col, value in (
                ("Hugo_Symbol", gene), ("Entrez_Gene_Id", str(entrez)),
                ("Center", "iatlas"), ("NCBI_Build", "GRCh38"),
                ("Chromosome", chrom), ("Start_Position", str(pos)),
                ("End_Position", str(pos)), ("Strand", "+"),
                ("Variant_Type", "SNP"), ("Reference_Allele", ref),
                ("Tumor_Seq_Allele1", ref), ("Tumor_Seq_Allele2", alt),
                ("Tumor_Sample_Barcode", barcode), ("Mutation_Status", "Somatic"),
                ("t_ref_count", str(t_ref)), ("t_alt_count", str(t_alt)),
                ("t_depth", str(t_ref + t_alt)), ("n_depth", str(rng.randrange(10, 150))),
                ("FILTER", "PASS"),
            ):
                row[col_index[col]] = value
            lines.append("\t".join(row))
        with open(os.path.join(out, "mafs", f"part-{f:02d}.maf"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    return {
        "sequenced": sequenced,
        "maf_rows": sum(1 for v in variants if v[1] != "chrM"),
        "variants": len(variants),
        "samples_kept": sum(1 for s in samples if not s[3]),
    }


def generate(out_dir: str, seed: int, shape: Shape) -> dict:
    """Write the study under ``out_dir`` (idempotent: a finished directory
    is reused) and return ``expected.json``'s content."""
    done = os.path.join(out_dir, "expected.json")
    if os.path.exists(done):
        with open(done) as fh:
            return json.load(fh)
    rng = random.Random(f"study:{seed}:{shape}")
    expected = {
        "shape": asdict(shape),
        "datasets": {
            name: _dataset(rng, os.path.join(out_dir, name), name, shape)
            for name in _dataset_names(shape.datasets)
        },
    }
    tmp = done + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(expected, fh)
    os.replace(tmp, done)
    return expected

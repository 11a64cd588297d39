"""MAF mutation-path operators (SURVEY.md §2.8, §3.2).

The reference's MAF pipeline is: folder scan+union → 40k-row chunking →
Genome Nexus annotation per chunk via a docker subprocess fanned out with
``multiprocessing.Pool`` (``maf.py:75-130``) → concat → chrM filter → write.

Spark-native shape: the chunking IS partitioning, the process pool IS task
parallelism, and the external annotation is a ``mapInPandas`` stage issuing
batched calls per partition — the one "UDTF-shaped" operator in the
reference. The real service needs network + docker (not available here), so
the annotator is pluggable: a deterministic fake implements the same
contract (adds annotation columns + routes failures to an error side-band)
for tests; :func:`genome_nexus_annotator` is the REST drop-in.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Columns the annotator adds — the representative ~40-column Genome Nexus /
# VEP annotation surface (reference ``maf.py:75-130`` returns the input
# variants plus these; they are the annotation-pipeline-contributed subset of
# the 118 REQUIRED_MAF_COLS in ``validate.py:14-133``). The contract is
# "input columns + these"; together with a raw-MAF input they reconstitute
# the full 118-column V12 schema end-to-end.
_STR_ANNOTATION_COLS = [
    "HGVSc",
    "HGVSp",
    "HGVSp_Short",
    "Transcript_ID",
    "RefSeq",
    "Protein_position",
    "Codons",
    "Exon_Number",
    "Consequence",
    "Variant_Classification",
    "Variant_Type",
    "Allele",
    "Amino_acids",
    "BIOTYPE",
    "CANONICAL",
    "CCDS",
    "CDS_position",
    "CLIN_SIG",
    "DOMAINS",
    "ENSP",
    "EXON",
    "Existing_variation",
    "Feature",
    "Feature_type",
    "Gene",
    "HGNC_ID",
    "IMPACT",
    "INTRON",
    "PolyPhen",
    "SIFT",
    "SWISSPROT",
    "SYMBOL",
    "SYMBOL_SOURCE",
    "TREMBL",
    "TSL",
    "UNIPARC",
    "VARIANT_CLASS",
    "cDNA_position",
]
_DBL_ANNOTATION_COLS = ["gnomADe_AF", "gnomADe_AFR_AF"]
ANNOTATION_COLS = (
    [(name, "string") for name in _STR_ANNOTATION_COLS]
    + [(name, "double") for name in _DBL_ANNOTATION_COLS]
    + [("Annotation_Status", "string")]
)

Annotator = Callable[[pd.DataFrame], pd.DataFrame]


def fake_annotator(batch: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for the Genome Nexus REST annotator.

    The reference posts 40k-row chunks to the GRCh38 endpoint with
    ``--isoform-override mskcc`` (reference ``maf.py:113-121``); this fake
    derives the annotation from the VARIANT KEY (never from row/batch
    position, which would vary with partitioning) so runs are hermetic and
    value-hash reproducible (SURVEY.md §7: "CI uses the fake").

    Contract: with ``Chromosome``+``Start_Position`` present, the variant key
    is ``'<chrom>:<pos>'`` and a NULL chromosome marks the row FAILED (routed
    to the error side-band, all annotation columns NULL); without those
    columns the key is the colon-joined row values and every row SUCCEEDs.
    Derivations (all reproducible in ANSI SQL for the oracle twin):
    ``HGVSp_Short = 'p.' + key``; every other string annotation column i is
    ``'<name>=' + key``; double columns are
    ``round(((len(key)*31 + i*7) % 9973) / 9973, 6)``.
    """
    out = batch.copy()
    if {"Chromosome", "Start_Position"}.issubset(out.columns):
        chrom = out["Chromosome"].astype("string")
        pos = out["Start_Position"].astype("Int64").astype("string")
        key = chrom + ":" + pos  # string-NA propagates
    else:
        key = pd.Series(
            [
                ":".join("" if pd.isna(v) else str(v) for v in row)
                for row in batch.itertuples(index=False)
            ],
            index=batch.index,
            dtype="string",
        )
    # NA in `key` propagates through both the string concat and the Int64
    # arithmetic, so no per-column masking is needed; assembling all 41
    # columns in ONE concat avoids 41 block insertions per batch (measured
    # ~2x on the mapInPandas stage at sf0.1).
    cols: dict[str, pd.Series] = {}
    # object dtype: element-wise str concat is ~3x the StringDtype path and
    # propagates missing values to NaN (→ Arrow null) without masking
    key_obj = key.astype(object)
    for name in _STR_ANNOTATION_COLS:
        if name == "Variant_Classification":
            # Vocabulary-constrained like Variant_Type, but position/allele
            # independent — a constant valid code keeps fake-annotated MAFs
            # green under their own validator while still exercising the
            # column's Arrow plumbing.
            cols[name] = key.notna().map(
                {True: "Missense_Mutation", False: None}
            ).astype(object)
            continue
        if name == "Variant_Type":
            # Vocabulary-constrained field (validateData strict checks:
            # SNP/DNP/TNP/ONP/INS/DEL + allele/position consistency) — a
            # generic "<name>=<key>" marker would make every fake-annotated
            # MAF fail its own validator, and no single valid code is
            # consistent with arbitrary fixture alleles/positions. The fake
            # leaves it NULL (rules skip missing).
            cols[name] = pd.Series([None] * len(batch), index=batch.index)
            continue
        prefix = "p." if name == "HGVSp_Short" else f"{name}="
        cols[name] = prefix + key_obj
    key_len = key.str.len().astype("Int64")
    for i, name in enumerate(_DBL_ANNOTATION_COLS):
        cols[name] = ((((key_len * 31 + i * 7) % 9973) / 9973).round(6)).astype(
            "Float64"
        )
    cols["Annotation_Status"] = key.notna().map({True: "SUCCESS", False: "FAILED"})
    return pd.concat(
        [out, pd.DataFrame(cols, index=batch.index)], axis=1, copy=False
    )


# annotation_summary.transcriptConsequenceSummary field → MAF annotation
# column, per Genome Nexus's VariantAnnotation response shape (the JSON the
# reference's dockerized annotationPipeline.jar consumes from the same
# endpoints, reference ``maf.py:113-121``).
_GN_SUMMARY_FIELD_MAP = {
    "hugoGeneSymbol": "SYMBOL",
    "hgvsc": "HGVSc",
    "hgvsp": "HGVSp",
    "hgvspShort": "HGVSp_Short",
    "transcriptId": "Transcript_ID",
    "refSeq": "RefSeq",
    "consequenceTerms": "Consequence",
    "variantClassification": "Variant_Classification",
    "exon": "Exon_Number",
    "codonChange": "Codons",
    "entrezGeneId": "Gene",
}


def genome_nexus_annotator(
    base_url: str,
    retries: int = 2,
    backoff_s: float = 0.5,
    max_variants_per_request: int = 500,
) -> Annotator:
    """The Genome Nexus REST annotator, against the service's public
    ``POST /annotation`` contract (the same GRCh38 endpoints the reference's
    docker ``annotationPipeline.jar`` hits with ``--isoform-override mskcc``,
    reference ``maf.py:113-121``; ``GENOMENEXUS_BASE`` env in
    ``Dockerfile``). ``base_url`` is the service root, e.g.
    ``https://www.genomenexus.org``.

    Wire shape: each Arrow batch posts ONE JSON array of genomic-location
    strings ``"chrom,start,end,ref,alt"`` (leading ``chr`` stripped, as the
    annotation pipeline does) to
    ``{base}/annotation?isoformOverrideSource=mskcc&fields=annotation_summary``
    and maps each response object's
    ``annotation_summary.transcriptConsequenceSummary`` onto the MAF
    annotation columns via :data:`_GN_SUMMARY_FIELD_MAP`. Responses are
    matched back to rows by ``originalVariantQuery`` — NOT by position —
    because Genome Nexus omits or reorders variants it cannot annotate.

    Error routing is PER-ROW where the service allows it: a variant missing
    from the response (or flagged ``successfully_annotated: false``) gets
    ``Annotation_Status = 'FAILED: unmatched'`` / ``'FAILED: annotation'``
    with NULL annotation columns, while the rest of the batch stays SUCCESS
    — finer than the reference's whole-chunk error report
    (``maf.py:160-177``). Transport-level failures (HTTP error, bad JSON)
    mark the whole batch ``FAILED: <ExceptionName>``.

    The wire call uses stdlib ``urllib`` (executor-side, no extra deps) with
    a 60 s timeout.

    Resilience (the service rate limit is the first thing to break at
    scale — SCALE.md): each request retries up to ``retries`` times on
    transport failure with deterministic exponential backoff
    (``backoff_s · 2^attempt``; exhausted retries raise into the existing
    whole-batch FAILED routing). ``max_variants_per_request`` splits a
    large Arrow batch into bounded POSTs (the per-task request-size knob —
    1000 executors × default 500 variants matches the annotation
    pipeline's own chunking).
    """
    import json
    import time

    url = (
        f"{base_url.rstrip('/')}/annotation"
        "?isoformOverrideSource=mskcc&fields=annotation_summary"
    )

    def send(u: str, payload: bytes) -> bytes:
        from urllib.request import Request, urlopen

        req = Request(
            u, data=payload, headers={"Content-Type": "application/json"}
        )
        with urlopen(req, timeout=60.0) as resp:  # noqa: S310
            return resp.read()

    def send_with_retry(payload: bytes) -> bytes:
        attempt = 0
        while True:
            try:
                return send(url, payload)
            except Exception:
                if attempt >= retries:
                    raise
                time.sleep(backoff_s * (2**attempt))
                attempt += 1

    _KEY_COLS = (
        "Chromosome",
        "Start_Position",
        "End_Position",
        "Reference_Allele",
        "Tumor_Seq_Allele2",
    )

    def _query_keys(batch: pd.DataFrame) -> list:
        # Vectorized genomic-location strings; string-NA propagates, so a
        # row with ANY missing key field gets None (never posted).
        if not set(_KEY_COLS).issubset(batch.columns):
            return [None] * len(batch)
        chrom = (
            batch["Chromosome"]
            .astype("string")
            .str.replace("^chr", "", regex=True)
        )
        start = batch["Start_Position"].astype("Int64").astype("string")
        end = batch["End_Position"].astype("Int64").astype("string")
        ref = batch["Reference_Allele"].astype("string")
        alt = batch["Tumor_Seq_Allele2"].astype("string")
        keys = chrom + "," + start + "," + end + "," + ref + "," + alt
        return [None if pd.isna(k) else str(k) for k in keys]

    def annotator(batch: pd.DataFrame) -> pd.DataFrame:
        out = batch.copy()
        keys = _query_keys(batch)
        queries = [k for k in keys if k is not None]
        try:
            records: list = []
            step = max(1, max_variants_per_request)
            for i in range(0, len(queries), step):
                chunk = queries[i : i + step]
                records.extend(json.loads(send_with_retry(json.dumps(chunk).encode())))
            by_query: dict[str, dict] = {}
            for rec in records:
                q = rec.get("originalVariantQuery") or rec.get("variant")
                if q is not None:
                    by_query[str(q)] = rec
            col_vals = {name: [None] * len(keys) for name, _ in ANNOTATION_COLS}
            for row, k in enumerate(keys):
                rec = by_query.get(k) if k is not None else None
                if k is None:
                    st = "FAILED: null variant key"
                elif rec is None:
                    st = "FAILED: unmatched"
                elif rec.get("successfully_annotated") is False:
                    st = "FAILED: annotation"
                else:
                    st = "SUCCESS"
                col_vals["Annotation_Status"][row] = st
                if st != "SUCCESS":
                    continue
                summary = rec.get("annotation_summary", {}).get(
                    "transcriptConsequenceSummary", {}
                )
                for gn_field, col in _GN_SUMMARY_FIELD_MAP.items():
                    v = summary.get(gn_field)
                    if isinstance(v, list):
                        v = ";".join(str(x) for x in v)
                    elif v is not None:
                        v = str(v)
                    col_vals[col][row] = v
            for name, vals in col_vals.items():
                out[name] = vals
        except Exception as exc:  # transport/parse failure → error side-band
            for name, _typ in ANNOTATION_COLS:
                out[name] = None
            out["Annotation_Status"] = f"FAILED: {type(exc).__name__}"
        return out

    return annotator


def annotate(
    maf: DataFrame,
    annotator: Annotator = fake_annotator,
) -> DataFrame:
    """Annotation as a ``mapInPandas`` stage.

    Partition sizing replaces the reference's manual 40k-row chunking: the
    Arrow batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``)
    bounds each pandas batch handed to the annotator, and Spark
    task parallelism replaces ``multiprocessing.Pool(n_workers)``. Failed
    batches surface as ``Annotation_Status != 'SUCCESS'`` rows and are split
    by :func:`split_annotation_errors` (reference routes failures to an error
    report, ``maf.py:160-177``).
    """
    # Built as a StructType, not a DDL string: MAF column names may contain
    # dots (MHCflurry_2.1.1_*) which the DDL parser rejects unquoted. Dotted
    # names also break mapInPandas itself (its internal per-column `df[name]`
    # parses dots as struct-field access), so they are aliased to dot-free
    # names around the stage and restored afterwards — metadata-only renames.
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    # Re-annotation semantics: stale annotation columns in the input (a MAF
    # that already went through an annotator, e.g. the reference's 118-col
    # files) are REPLACED — drop them so the stage's output carries exactly
    # one canonical-typed copy of each (duplicate labels would also break
    # the Arrow column-by-name hand-back).
    ann_names = {name for name, _ in ANNOTATION_COLS}
    stale = [c for c in maf.columns if c in ann_names]
    if stale:
        maf = maf.drop(*stale)
    safe = {c: c.replace(".", "__dot__") for c in maf.columns if "." in c}
    maf_safe = maf.withColumnsRenamed(safe) if safe else maf
    ann_fields = [
        StructField(name, DoubleType() if typ == "double" else StringType(), True)
        for name, typ in ANNOTATION_COLS
        if name not in maf.columns
    ]
    schema = StructType(list(maf_safe.schema.fields) + ann_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return map(annotator, batches)

    # r10: the annotation stage inherits the scan's partitioning, and a
    # small input (one parquet file) runs the whole Python stage in ONE
    # task — the per-row pandas/Arrow work serializes (measured 2.5s
    # single-task vs 0.9s boundary floor at sf0.1). The reference fans its
    # 40k-row chunks across multiprocessing.Pool workers unconditionally;
    # the Spark twin of that is a round-robin repartition up to the
    # cluster's parallelism — applied ONLY when the input carries fewer
    # partitions than cores (an already-parallel 100 TB scan must not pay
    # a payload shuffle for nothing). Annotations are key-derived, so
    # batch composition cannot change any row's output.
    sc = maf_safe.sparkSession.sparkContext
    if maf_safe.rdd.getNumPartitions() < sc.defaultParallelism:
        maf_safe = maf_safe.repartition(sc.defaultParallelism)
    out = maf_safe.mapInPandas(run, schema=schema)
    if safe:
        out = out.withColumnsRenamed({v: k for k, v in safe.items()})
    return out


def annotate_by_variant(maf: DataFrame) -> DataFrame:
    """Variant-level annotation: the scale path of :func:`annotate`.

    Genome Nexus annotates VARIANTS, not sample rows — every row sharing a
    variant key gets identical annotation columns (the fake's contract makes
    this explicit). So only the DISTINCT key tuples cross the Python/Arrow
    boundary; one join fans annotations back to rows. At a typical cohort's
    variant-duplication factor this cuts the Python-path bytes by orders of
    magnitude, and the annotation call count by the same — the difference
    between re-posting a 100 TB MAF to the service and posting its variant
    dictionary. Null keys (the FAILED side-band) join back via null-safe
    equality. Output schema == :func:`annotate`'s (modulo column order).
    """
    from functools import reduce

    key_cols = ("Chromosome", "Start_Position")
    keys = maf.select(*key_cols).distinct()
    ann_keys = annotate(keys)
    cond = reduce(
        lambda a, b: a & b, [maf[k].eqNullSafe(ann_keys[k]) for k in key_cols]
    )
    joined = maf.join(ann_keys, cond, "left")
    return joined.drop(*[ann_keys[k] for k in key_cols])


def split_annotation_errors(annotated: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route failed annotations to the error side-band (reference
    ``maf.py:160-177`` writes a separate failure report)."""
    ok = annotated.filter(F.col("Annotation_Status") == "SUCCESS")
    failed = annotated.filter(
        (F.col("Annotation_Status") != "SUCCESS")
        | F.col("Annotation_Status").isNull()
    )
    return ok, failed


def drop_chrm(maf: DataFrame) -> DataFrame:
    """P2: drop mitochondrial variants, keeping NULL chromosomes (pandas
    ``!=`` semantics — reference ``maf.py:181-195``)."""
    c = F.col("Chromosome")
    return maf.filter((c != F.lit("chrM")) | c.isNull())


def allele_frequency(maf: DataFrame) -> DataFrame:
    """V11 companion: AF = t_alt / (t_alt + t_ref) (reference documents the
    formula at ``maf.py:256-258`` while checking the inputs are non-null)."""
    t_alt = F.col("t_alt_count").cast("double")
    t_ref = F.col("t_ref_count").cast("double")
    return maf.withColumn(
        "tumor_allele_freq",
        F.when((t_alt + t_ref) > 0, F.round(t_alt / (t_alt + t_ref), 6)),
    )


def oncoprint_matrix(maf: DataFrame, top_genes: int = 10) -> DataFrame:
    """Oncoprint-style alteration matrix: the top-N most recurrently
    mutated genes (by DISTINCT mutated samples — recurrence, not raw
    variant count) × every sample carrying them — the gene×sample grid
    cBioPortal renders from exactly this MAF shape (the reference bundle's
    downstream consumer).

    Plan: gene ranking is one countDistinct aggregate + TakeOrderedAndProject
    (per-partition heaps, k rows to the driver-side merge — never a full
    sort); the ≤N ranked rows are COLLECTED in their already-computed order
    and rank is stamped driver-side into a literal (gene, gene_rank) frame
    — r10: this deletes the plan's last single-partition window (the r9
    ``row_number().over(Window.orderBy(...))`` fired ``WindowExec: No
    Partition Defined``; bounded at ≤N rows but warning-level and
    derivable for free from the TakeOrderedAndProject order). The tiny
    rank frame then BROADCASTS back as a semi-join filter so the matrix
    aggregate only shuffles rows of the N selected genes.
    Output: (gene, gene_rank, sample, n_mutations).
    """
    ranked = (
        maf.groupBy(F.col("Hugo_Symbol").alias("gene"))
        .agg(F.count_distinct(F.col("Tumor_Sample_Barcode")).alias("n_samples"))
        .orderBy(F.desc("n_samples"), "gene")
        .limit(top_genes)
        .select("gene")
        .collect()
    )
    gene_type = maf.schema["Hugo_Symbol"].dataType.simpleString()
    gene_rank = maf.sparkSession.createDataFrame(
        [(r["gene"], i + 1) for i, r in enumerate(ranked)],
        schema=f"gene {gene_type}, gene_rank int",
    )
    return (
        maf.select(
            F.col("Hugo_Symbol").alias("gene"),
            F.col("Tumor_Sample_Barcode").alias("sample"),
        )
        .join(F.broadcast(gene_rank), on="gene")
        .groupBy("gene", "gene_rank", "sample")
        .agg(F.count(F.lit(1)).alias("n_mutations"))
    )


def gene_co_occurrence(maf: DataFrame, top_genes: int = 10) -> DataFrame:
    """Pairwise mutation co-occurrence / mutual-exclusivity screen over the
    recurrently mutated genes — the analysis cBioPortal runs right after
    the oncoprint: for each gene pair, how many samples carry BOTH
    mutations vs the count expected under independence (n_a·n_b/N).
    log2((observed+1)/(expected+1)) > 0 ⇒ co-occurring, < 0 ⇒ mutually
    exclusive (the oncogenic-pathway signal).

    Plan: the top-gene set comes from the same recurrence heap as
    :func:`oncoprint_matrix` and BROADCASTS as a filter; distinct
    (gene, sample) pairs then self-join on sample — per-sample fan-out is
    bounded by the top-gene count (≤ C(top_genes, 2) pairs per sample),
    so the pair shuffle is corpus-linear. Counts are exact integers; the
    expected/log2 columns are single per-row float ops (round 6).

    Output: (gene_a, gene_b, n_a, n_b, n_both, expected, log2_ratio)
    with gene_a < gene_b.
    """
    top = (
        maf.groupBy(F.col("Hugo_Symbol").alias("gene"))
        .agg(F.count_distinct(F.col("Tumor_Sample_Barcode")).alias("n_samples"))
        .orderBy(F.desc("n_samples"), "gene")
        .limit(top_genes)
        .select("gene", "n_samples")
    )
    gs = (
        maf.select(
            F.col("Hugo_Symbol").alias("gene"),
            F.col("Tumor_Sample_Barcode").alias("s"),
        )
        .join(F.broadcast(top.select("gene")), on="gene")
        .distinct()
    )
    n_total = maf.select(
        F.count_distinct(F.col("Tumor_Sample_Barcode")).alias("n")
    )
    a = gs.select(F.col("gene").alias("gene_a"), "s")
    b = gs.select(F.col("gene").alias("gene_b"), "s")
    both = (
        a.join(b, on="s")
        .filter(F.col("gene_a") < F.col("gene_b"))
        .groupBy("gene_a", "gene_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = top.select(
        F.col("gene").alias("gene_a"), F.col("n_samples").alias("n_a")
    )
    tb = top.select(
        F.col("gene").alias("gene_b"), F.col("n_samples").alias("n_b")
    )
    # full pair grid (a tiny broadcast cross of the top-gene list with
    # itself): pairs with ZERO shared samples are the mutual-exclusivity
    # signal and must not vanish from the output
    grid = ta.crossJoin(F.broadcast(tb)).filter(
        F.col("gene_a") < F.col("gene_b")
    )
    e = F.col("n_a") * F.col("n_b") / F.col("n").cast("double")
    return (
        grid.join(both, on=["gene_a", "gene_b"], how="left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "gene_a",
            "gene_b",
            "n_a",
            "n_b",
            F.coalesce("n_both", F.lit(0)).alias("n_both"),
            F.round(e, 6).alias("expected"),
            F.round(
                F.log2(
                    (F.coalesce("n_both", F.lit(0)) + 1) / (e + 1)
                ),
                6,
            ).alias("log2_ratio"),
        )
    )

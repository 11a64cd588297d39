"""Genome Nexus HTTP annotator against a LOCAL mock server.

The reference runs annotation as a docker subprocess per 40k-row chunk
(reference ``maf.py:113-121``); our :func:`genome_nexus_annotator` is the
REST equivalent running inside a ``mapInPandas`` stage. These tests stand up
a real ``http.server`` on 127.0.0.1 and drive the DEFAULT urllib transport
end-to-end from Spark Python workers — no network, no injected transport —
covering the wire contract (path, query params, JSON content type), the
nested ``annotation_summary`` response mapping, per-row error routing
(unmatched variant, ``successfully_annotated: false``, null key) and
whole-batch transport-failure routing (HTTP 500).
"""

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest


class _GNHandler(BaseHTTPRequestHandler):
    calls: list = []
    fail_mode: str | None = None
    fail_first_n: int = 0  # flaky mode: 500 for the first N requests
    _lock = threading.Lock()

    def do_POST(self):  # noqa: N802 (http.server API)
        length = int(self.headers.get("Content-Length", 0))
        body = json.loads(self.rfile.read(length) or b"[]")
        with type(self)._lock:
            type(self).calls.append(
                {
                    "path": self.path,
                    "content_type": self.headers.get("Content-Type"),
                    "queries": body,
                }
            )
            flaky_fail = type(self).fail_first_n > 0
            if flaky_fail:
                type(self).fail_first_n -= 1
        if type(self).fail_mode == "500" or flaky_fail:
            self.send_response(500)
            self.end_headers()
            return
        resp = []
        for q in body:
            chrom = q.split(",")[0]
            if chrom == "99":  # the service omits variants it can't place
                continue
            resp.append(
                {
                    "originalVariantQuery": q,
                    "successfully_annotated": chrom != "88",
                    "annotation_summary": {
                        "transcriptConsequenceSummary": {
                            "hugoGeneSymbol": f"GENE{chrom}",
                            "hgvspShort": f"p.X{chrom}",
                            "hgvsc": f"c.{chrom}A>T",
                            "transcriptId": f"ENST{chrom}",
                            "variantClassification": "Missense_Mutation",
                            "consequenceTerms": ["missense_variant"],
                            "entrezGeneId": 7157,
                        }
                    },
                }
            )
        data = json.dumps(resp).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def gn_server():
    _GNHandler.calls = []
    _GNHandler.fail_mode = None
    _GNHandler.fail_first_n = 0
    server = ThreadingHTTPServer(("127.0.0.1", 0), _GNHandler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()
        server.server_close()


def _maf_df(spark):
    rows = [
        ("chr7", 140753336, 140753336, "A", "T"),   # annotates fine
        ("99", 1000, 1000, "G", "C"),               # omitted by the service
        ("88", 2000, 2000, "C", "G"),               # successfully_annotated: false
        (None, None, None, None, None),             # null key → never posted
    ]
    return spark.createDataFrame(
        rows,
        "Chromosome string, Start_Position long, End_Position long, "
        "Reference_Allele string, Tumor_Seq_Allele2 string",
    )


def test_genome_nexus_annotator_end_to_end(spark, gn_server):
    from iatlas_cbioportal_export_spark.operators.maf import (
        annotate,
        genome_nexus_annotator,
    )

    ann = annotate(_maf_df(spark), annotator=genome_nexus_annotator(gn_server))
    rows = {r["Chromosome"]: r for r in ann.collect()}

    ok = rows["chr7"]
    assert ok["Annotation_Status"] == "SUCCESS"
    assert ok["SYMBOL"] == "GENE7"                  # chr prefix stripped on wire
    assert ok["HGVSp_Short"] == "p.X7"
    assert ok["HGVSc"] == "c.7A>T"
    assert ok["Transcript_ID"] == "ENST7"
    assert ok["Variant_Classification"] == "Missense_Mutation"
    assert ok["Consequence"] == "missense_variant"  # list joined
    assert ok["Gene"] == "7157"

    assert rows["99"]["Annotation_Status"] == "FAILED: unmatched"
    assert rows["99"]["SYMBOL"] is None
    assert rows["88"]["Annotation_Status"] == "FAILED: annotation"
    assert rows["88"]["SYMBOL"] is None
    assert rows[None]["Annotation_Status"] == "FAILED: null variant key"

    # Wire contract: POST /annotation with the mskcc isoform override and
    # summary fields, JSON body of genomic-location strings.
    paths = {c["path"] for c in _GNHandler.calls}
    assert all(p.startswith("/annotation?") for p in paths)
    assert all("isoformOverrideSource=mskcc" in p for p in paths)
    assert all("fields=annotation_summary" in p for p in paths)
    assert all(
        c["content_type"] == "application/json" for c in _GNHandler.calls
    )
    posted = [q for c in _GNHandler.calls for q in c["queries"]]
    assert sorted(posted) == [
        "7,140753336,140753336,A,T",
        "88,2000,2000,C,G",
        "99,1000,1000,G,C",
    ]


def test_genome_nexus_annotator_http_error_routes_batch(spark, gn_server):
    from iatlas_cbioportal_export_spark.operators.maf import (
        annotate,
        genome_nexus_annotator,
        split_annotation_errors,
    )

    _GNHandler.fail_mode = "500"
    ann = annotate(
        _maf_df(spark),
        annotator=genome_nexus_annotator(
            gn_server, retries=1, backoff_s=0.01
        ),
    )
    statuses = {r["Annotation_Status"] for r in ann.collect()}
    # null-key rows never post, so they keep their precise status even
    # with the service down; every POSTED row routes as HTTPError.
    assert statuses == {"FAILED: HTTPError", "FAILED: null variant key"}
    good, bad = split_annotation_errors(ann)
    assert good.count() == 0 and bad.count() == 4
    # retry-exhausted: every posting batch was attempted retries+1 (=2)
    # times per Spark action (collect + the two counts each re-run the
    # stage, so per-batch attempt counts are multiples of 2).
    from collections import Counter

    attempts = Counter(tuple(c["queries"]) for c in _GNHandler.calls)
    assert attempts and all(v >= 2 and v % 2 == 0 for v in attempts.values())


def test_genome_nexus_annotator_retry_then_succeed(spark, gn_server):
    from iatlas_cbioportal_export_spark.operators.maf import genome_nexus_annotator

    # one pandas batch, as one annotate() task hands it over: the first
    # request 500s, the retry lands; the batch must come back fully
    # annotated. (annotate() spreads a small input over every core, which
    # would make the call count task-count-dependent.)
    _GNHandler.fail_first_n = 1
    annotator = genome_nexus_annotator(gn_server, retries=2, backoff_s=0.01)
    ann = annotator(_maf_df(spark).toPandas())
    rows = {r["Chromosome"]: r for _, r in ann.iterrows()}
    assert rows["chr7"]["Annotation_Status"] == "SUCCESS"
    assert rows["chr7"]["SYMBOL"] == "GENE7"
    assert rows["99"]["Annotation_Status"] == "FAILED: unmatched"
    assert len(_GNHandler.calls) == 2  # the 500 + the successful retry


def test_genome_nexus_annotator_request_size_knob(spark, gn_server):
    from iatlas_cbioportal_export_spark.operators.maf import genome_nexus_annotator

    # one pandas batch, as in the retry test above
    annotator = genome_nexus_annotator(gn_server, max_variants_per_request=1)
    ann = annotator(_maf_df(spark).toPandas())
    rows = {r["Chromosome"]: r for _, r in ann.iterrows()}
    assert rows["chr7"]["Annotation_Status"] == "SUCCESS"
    assert rows["88"]["Annotation_Status"] == "FAILED: annotation"
    # 3 postable variants -> 3 single-variant requests (null key never posts)
    assert [len(c["queries"]) for c in _GNHandler.calls] == [1, 1, 1]


def test_cli_maf_endpoint_annotates_each_variant_once(
    spark, gn_server, tmp_path, capsys
):
    from collections import Counter

    from iatlas_cbioportal_export_spark.cli import main

    maf_dir = tmp_path / "mafs"
    maf_dir.mkdir()
    (maf_dir / "x.maf").write_text(
        "#version 2.4\n"
        "Chromosome\tStart_Position\tEnd_Position\tReference_Allele\t"
        "Tumor_Seq_Allele2\tTumor_Sample_Barcode\n"
        "chr7\t140753336\t140753336\tA\tT\tS_OK\n"      # annotates fine
        "99\t1000\t1000\tG\tC\tS_OMITTED\n"             # omitted by the service
        "88\t2000\t2000\tC\tG\tS_UNANNOTATED\n"         # successfully_annotated: false
    )
    out = tmp_path / "bundle"
    rc = main(
        ["maf", "--maf-folder", str(maf_dir), "--out", str(out),
         "--endpoint", gn_server]
    )
    assert rc == 0
    posted = Counter(q for c in _GNHandler.calls for q in c["queries"])
    assert posted == {
        "7,140753336,140753336,A,T": 1,
        "99,1000,1000,G,C": 1,
        "88,2000,2000,C,G": 1,
    }
    assert "2 rows failed annotation" in capsys.readouterr().err
    errors = spark.read.option("sep", "\t").option("header", True).csv(
        str(out / "annotation_errors")
    )
    assert sorted(r["Tumor_Sample_Barcode"] for r in errors.collect()) == [
        "S_OMITTED",
        "S_UNANNOTATED",
    ]

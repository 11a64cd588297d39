"""The export-chain workload: ``clinical -> maf -> validate -> load`` through
the real ``cli.main``, one dataset at a time, with output checks."""

from __future__ import annotations

import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass

import gen_study

COMMANDS = ("clinical", "maf", "validate", "load")
# workload -> seed -> dataset -> store_digest() of a verified run.
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned_digests.json")


@dataclass
class Chain:
    dataset: str
    walls: dict  # command -> seconds
    wall: float
    failures: list  # human-readable failure descriptions
    attempted: int


class Study:
    def __init__(self, root: str, seed: int, shape: gen_study.Shape, out_root: str,
                 pin_key: str | None):
        self.root = root
        self.seed = seed
        self.pin_key = pin_key
        self.expected = gen_study.generate(root, seed, shape)
        self.datasets = list(self.expected["datasets"])
        self.out_root = out_root

    def paths(self, dataset: str) -> dict:
        src = os.path.join(self.root, dataset)
        out = os.path.join(self.out_root, dataset)
        return {
            "src": src,
            "bundle": os.path.join(out, "bundle"),
            "store": os.path.join(out, "store"),
            "out": out,
        }

    def argv(self, command: str, dataset: str) -> list[str]:
        p = self.paths(dataset)
        src = p["src"]
        return {
            "clinical": [
                "clinical", "--clinical", f"{src}/clinical.tsv",
                "--oncotree", f"{src}/oncotree.tsv", "--codes", f"{src}/codes.tsv",
                "--mapping", f"{src}/mapping.tsv",
                "--neoantigen", f"{src}/neoantigen.tsv",
                "--dataset", dataset, "--out", p["bundle"],
            ],
            "maf": ["maf", "--maf-folder", f"{src}/mafs", "--out", p["bundle"],
                    "--dataset", dataset],
            "validate": ["validate", "--bundle", p["bundle"],
                         "--neoantigen", f"{src}/neoantigen.tsv"],
            "load": ["load", "--bundle", p["bundle"], "--dest", p["store"]],
        }[command]

    def run_chain(self, dataset: str, tracer=None) -> Chain:
        """Run the four commands on one dataset and check the loaded
        store. Stdout of the commands (validate prints its findings table)
        is captured, not echoed."""
        from iatlas_cbioportal_export_spark.cli import main

        shutil.rmtree(self.paths(dataset)["out"], ignore_errors=True)
        walls, failures = {}, []
        t0 = time.perf_counter()
        for command in COMMANDS:
            argv = self.argv(command, dataset)
            t = time.perf_counter()
            try:
                with contextlib.redirect_stdout(io.StringIO()):
                    if tracer is None:
                        rc = main(argv)
                    else:
                        rc = tracer.call(f"cli.{command}", main, argv, top=True,
                                         attrs={"dataset": dataset})
            except Exception as exc:  # a crashing command is a failed operation
                rc = f"{type(exc).__name__}: {exc}"
            walls[command] = time.perf_counter() - t
            if rc != 0:
                failures.append(f"{dataset}: {command} returned {rc}")
                break
        wall = time.perf_counter() - t0
        if not failures:
            failures += self.check(dataset)
        return Chain(dataset, walls, wall, failures, attempted=len(walls))

    # -- output checks -------------------------------------------------------
    def check(self, dataset: str) -> list[str]:
        exp = self.expected["datasets"][dataset]
        store = self.paths(dataset)["store"]
        problems = []
        seq = _case_list_ids(os.path.join(store, "case_lists", "cases_sequenced.txt"))
        if seq != exp["sequenced"]:
            problems.append(f"{dataset}: cases_sequenced has {len(seq)} ids, "
                            f"expected {len(exp['sequenced'])}")
        all_ids = _case_list_ids(os.path.join(store, "case_lists", "cases_all.txt"))
        if len(all_ids) != exp["samples_kept"]:
            problems.append(f"{dataset}: cases_all has {len(all_ids)} ids, "
                            f"expected {exp['samples_kept']}")
        rows = maf_rows(os.path.join(store, "data_mutations_extended"))
        if rows != exp["maf_rows"]:
            problems.append(f"{dataset}: loaded MAF has {rows} rows, expected {exp['maf_rows']}")
        pinned = _pinned().get(self.pin_key, {}).get(str(self.seed), {}).get(dataset)
        if pinned is not None and pinned != store_digest(store):
            problems.append(f"{dataset}: store digest differs from the pinned one")
        return problems

    def input_files(self, command: str, dataset: str) -> list[str]:
        """The data files a command reads through Spark (for the read
        amplification ratio)."""
        p = self.paths(dataset)
        src, bundle = p["src"], p["bundle"]
        maf_parts = glob.glob(os.path.join(bundle, "data_mutations_extended", "part-*.csv"))
        if command == "clinical":
            return [f"{src}/{n}.tsv" for n in ("clinical", "oncotree", "codes", "mapping", "neoantigen")]
        if command == "maf":
            return glob.glob(f"{src}/mafs/*.maf")
        if command == "validate":
            return [f"{bundle}/data_clinical_patient.txt", f"{bundle}/data_clinical_sample.txt",
                    f"{src}/neoantigen.tsv", *maf_parts]
        return [f"{bundle}/data_clinical_sample.txt", *maf_parts]


def _case_list_ids(path: str) -> list[str]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        for line in fh:
            if line.startswith("case_list_ids:"):
                ids = line.split(":", 1)[1].strip()
                return ids.split("\t") if ids else []
    return []


def maf_rows(directory: str) -> int:
    """Data rows over a chunked TSV directory (one header per part file)."""
    n = 0
    for part in glob.glob(os.path.join(directory, "part-*.csv")):
        with open(part) as fh:
            n += max(0, sum(1 for _ in fh) - 1)
    return n


def store_digest(store: str) -> str:
    """Order-insensitive digest of every artifact under ``store``: each
    file's lines are sorted; the part files of one directory are pooled
    with their header line kept once, so part-file names, the number of
    parts and ``.crc``/``_SUCCESS`` sidecars do not matter."""
    pooled: dict[str, list[str]] = {}
    headers: dict[str, set[str]] = {}
    for dirpath, _dirs, files in os.walk(store):
        for name in files:
            if name.startswith((".", "_")):
                continue
            rel_dir = os.path.relpath(dirpath, store)
            with open(os.path.join(dirpath, name), errors="replace") as fh:
                lines = fh.read().splitlines()
            if name.startswith("part-"):
                if lines:
                    headers.setdefault(rel_dir, set()).add(lines[0])
                pooled.setdefault(rel_dir, []).extend(lines[1:])
            else:
                pooled[os.path.join(rel_dir, name)] = lines
    for rel_dir, header in headers.items():
        pooled[rel_dir].extend(sorted(header))
    h = hashlib.sha256()
    for key in sorted(pooled):
        h.update(key.encode() + b"\0")
        for line in sorted(pooled[key]):
            h.update(line.encode() + b"\n")
    return h.hexdigest()


def _pinned() -> dict:
    if not os.path.exists(PINNED):
        return {}
    with open(PINNED) as fh:
        return json.load(fh)

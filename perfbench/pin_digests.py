"""Pin the loaded-store digests of the study workload for given seeds.

    python3 perfbench/pin_digests.py SEED [SEED ...]

Runs every dataset's chain for each seed in one session, and records
``store_digest()`` in ``pinned_digests.json`` for every chain that passes
the other output checks. Re-run it only when a change is meant to alter
the bundle bytes; the benchmark then compares each run against it.
"""

from __future__ import annotations

import json
import sys

import run


def main(seeds: list[int]) -> int:
    run.configure_environment()
    import gen_study
    from study import PINNED, Study, store_digest

    spark = run.start_session()
    pinned = {}
    try:
        with open(PINNED) as fh:
            pinned = json.load(fh)
    except FileNotFoundError:
        pass
    failed = 0
    for name, (kind, shape) in run.WORKLOADS.items():
        if kind != "study":
            continue
        for seed in seeds:
            study = Study(str(run.WORK / "inputs" / f"{name}-{seed}"), seed,
                          gen_study.Shape(*shape), str(run.WORK / "out"), pin_key=None)
            for dataset in study.datasets:
                chain = study.run_chain(dataset)
                if chain.failures:
                    print("\n".join(chain.failures), file=sys.stderr)
                    failed += 1
                    continue
                digest = store_digest(study.paths(dataset)["store"])
                pinned.setdefault(name, {}).setdefault(str(seed), {})[dataset] = digest
                print(name, seed, dataset, digest, f"{chain.wall:.2f}s")
    run.stop_jvm(spark)
    with open(PINNED, "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main([int(s) for s in sys.argv[1:]]))

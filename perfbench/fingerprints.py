"""Record the doc ids that ``corpus_dedup``'s curate keeps, per seed.

    python3 perfbench/fingerprints.py --seeds 0-199

For each seed this builds the workload's corpus, runs the same
``build_training_corpus`` call and output writes as the workload, and
records the fingerprint of the surviving doc ids: their count and the XOR of
their ``xxhash64``. It writes ``perfbench/records/fingerprints.json``, which
every ``corpus_dedup`` run checks its own fingerprint against, so a change
to the corpus build that keeps or drops other documents fails that check.
Record again only when such a change is intended. Run from the root of a
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from run import ROOT, start_spark, stop_spark
from spans import Tracer
from steadiness import seeds


def main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="0-199", help="inclusive range, e.g. 0-199")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from workloads import FINGERPRINTS, CorpusDedup  # imports the package

    work = os.path.join(ROOT, ".perfbench_work", f"fingerprints-{os.getpid()}")
    spark = start_spark(work, len(os.sched_getaffinity(0)))
    out, kept = {}, []
    try:
        for seed in seeds(args.seeds):
            wl = CorpusDedup(spark, seed, os.path.join(work, str(seed)), Tracer(None, enabled=False))
            wl.write_inputs("in")
            wl._curate()
            out[str(seed)] = list(wl.fingerprints.pop())
            both, n = wl.near_copies_kept()
            kept.append(both / n)
            print(f"seed {seed}: {out[str(seed)]}, {both} of {n} near-copy pairs kept both",
                  file=sys.stderr, flush=True)
            shutil.rmtree(wl.work, ignore_errors=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    what = "per seed: [count, XOR of xxhash64(doc_id)] of the documents corpus_dedup's curate keeps"
    head = {"what": what, "near_copy_pairs_kept_max_share": max(kept)}
    rows = ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in out.items())
    with open(FINGERPRINTS, "w") as f:
        f.write(json.dumps(head, indent=1)[:-2] + f',\n "fingerprints": {{\n{rows}\n }}\n}}\n')
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

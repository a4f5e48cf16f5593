"""Open-loop load generator for the pipeline_stream workload.

Runs as its own process so a stalled stream cannot slow the schedule:
file ``i`` of the staged directory is renamed into raw/ at
``t0 + i / rate`` (wall-clock epoch seconds), whatever the consumer is
doing. Writes the due and actual drop time of every file as JSON.

    python3 perfbench/loadgen.py --staged DIR --raw DIR --rate 4 --t0 EPOCH --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staged", required=True)
    ap.add_argument("--raw", required=True)
    ap.add_argument("--rate", type=float, required=True, help="files per second")
    ap.add_argument("--t0", type=float, required=True, help="epoch seconds of the first drop")
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    drops = []
    for i, name in enumerate(sorted(os.listdir(args.staged))):
        due = args.t0 + i / args.rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(args.staged, name), os.path.join(args.raw, name))
        drops.append({"file": name, "due": due, "dropped": time.time()})
    with open(args.log, "w") as f:
        json.dump(drops, f)


if __name__ == "__main__":
    main()

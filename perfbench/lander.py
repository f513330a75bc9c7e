"""Open-loop segment lander, run as its own process.

Renames pre-generated, complete WAL segments (``<pending>/epoch-NNNNN``)
into the WAL root on a fixed schedule: segment k is due at
``start + k * interval`` (wall clock), whatever the engine is doing. One
JSON line per segment goes to ``--log``: the epoch, when it was due and
when the rename happened, so lateness of the generator itself is known.

    python3 lander.py --pending P --wal W --epochs 3,4,5 \
        --start 1700000000.0 --interval 1.5 --log landed.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pending", required=True)
    ap.add_argument("--wal", required=True)
    ap.add_argument("--epochs", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    epochs = [int(e) for e in a.epochs.split(",")]
    with open(a.log, "w") as log:
        for k, e in enumerate(epochs):
            due = a.start + k * a.interval
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"epoch-{e:05d}"
            os.rename(os.path.join(a.pending, name),
                      os.path.join(a.wal, name))
            log.write(json.dumps({"epoch": e, "due": due,
                                  "landed": time.time()}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()

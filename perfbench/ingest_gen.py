"""Open-loop file generator for the ``ingest`` workload (its own process).

    python3 ingest_gen.py <plan.jsonl> <topics_dir> <start_epoch_s> <log.jsonl>

Each plan line is ``[due_s, topic, records]``. At ``start + due_s`` the
file is written under a hidden name and renamed into
``<topics_dir>/<topic>/``, so the file source never sees a partial
file. The schedule never waits for Spark: a file that falls behind is
written as soon as possible and its lateness is logged. Each log line
is ``[path, created_epoch_s, late_s, n_records]``.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(plan_path: str, topics_dir: str, start: float, log_path: str) -> None:
    with open(plan_path) as f:
        plan = [json.loads(line) for line in f]
    with open(log_path, "w") as log:
        for i, (due, topic, records) in enumerate(plan):
            wait = start + due - time.time()
            if wait > 0:
                time.sleep(wait)
            late = max(0.0, time.time() - (start + due))
            d = os.path.join(topics_dir, topic)
            tmp = os.path.join(d, f".{i:06d}.tmp")
            final = os.path.join(d, f"part-{i:06d}.jsonl")
            with open(tmp, "w") as out:
                out.write("".join(json.dumps(r) + "\n" for r in records))
            os.replace(tmp, final)
            log.write(json.dumps([final, time.time(), late, len(records)]) + "\n")
            log.flush()


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), sys.argv[4])

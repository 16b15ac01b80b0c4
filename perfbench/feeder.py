"""Open-loop file feeder for the stream workload (a separate process).

    python perfbench/feeder.py STAGING WATCH START INTERVAL OUT_JSON NAME...

Moves ``STAGING/NAME`` into ``WATCH`` by an atomic rename, file k at
wall-clock time ``START + k * INTERVAL``. The schedule never waits for
the stream: a slow stream only makes files queue up. Writes
``[{"name", "due", "sent"}, ...]`` to OUT_JSON when done.
"""

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    staging, watch, start, interval, out = argv[:5]
    start, interval = float(start), float(interval)
    sent = []
    for k, name in enumerate(argv[5:]):
        due = start + k * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.replace(os.path.join(staging, name), os.path.join(watch, name))
        sent.append({"name": name, "due": due, "sent": time.time()})
    with open(out + ".tmp", "w", encoding="utf-8") as f:
        json.dump(sent, f)
    os.replace(out + ".tmp", out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

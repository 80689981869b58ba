"""Open-loop file generator for the live workload: one process, one thread.

    python3 livegen.py <staging_dir> <watch_dir> <first> <count> <t0> <rate> <log>

Drops staging files ``part-<first>..part-<first+count-1>`` into the watched
directory, file i due at ``t0 + (i - first) / rate`` (wall clock).  Each drop
copies to a dot-file (which Spark's file source ignores) and renames it into
place, so the stream never sees a partial file.  The schedule does not slow
when the system under test slows: a late drop is logged, never skipped.
The log, written once at the end, is one JSON object mapping each dropped
file name to ``[due, dropped]``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main(argv: list[str]) -> None:
    staging, watch, first, count, t0, rate, log = argv
    first, count, t0, rate = int(first), int(count), float(t0), float(rate)
    drops = {}
    for k in range(count):
        name = f"part-{first + k:05d}.parquet"
        due = t0 + k / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(watch, "." + name)
        shutil.copyfile(os.path.join(staging, name), tmp)
        os.replace(tmp, os.path.join(watch, name))
        drops[name] = [due, time.time()]
    with open(log, "w") as f:
        json.dump(drops, f)


if __name__ == "__main__":
    main(sys.argv[1:])

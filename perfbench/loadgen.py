"""The live load generator: one process, one thread, standard library only.

It moves pre-rendered files from a staging directory into the directory
the live queries watch, file i at ``t0 + i * interval`` in name order. The
schedule is open loop: it never waits for the consumer. It logs when each
file was due and when it landed::

    python3 perfbench/loadgen.py --stage DIR --dest DIR --t0 EPOCH \\
        --interval SECONDS --log PATH
"""

import argparse
import json
import os
import signal
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--stage", required=True)
    ap.add_argument("--dest", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    log = []
    for i, name in enumerate(sorted(os.listdir(a.stage))):
        due = a.t0 + i * a.interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if stop:
            break
        src = os.path.join(a.stage, name)
        now = time.time()
        os.utime(src, (now, now))  # the file source orders and ages files by mtime
        os.rename(src, os.path.join(a.dest, name))
        log.append({"name": name, "due": due, "landed": time.time()})
    with open(a.log + ".tmp", "w") as fh:
        json.dump(log, fh)
    os.rename(a.log + ".tmp", a.log)


if __name__ == "__main__":
    main()

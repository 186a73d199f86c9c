#!/usr/bin/env python3
"""Prints how the pinned `suite` slots (perfbench/suite_slots.tsv) differ from
the program's `SparkEntry.queries` registry.

    python3 perfbench/slots.py

A pinned slot missing from the registry fails on every suite run; a slot
without oracle SQL needs a pin in perfbench/pins/ (see oracle.py).
"""
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def pinned_slots():
    with open(os.path.join(HERE, "suite_slots.tsv")) as f:
        rows = [l.rstrip("\n").split("\t") for l in f if l.strip() and not l.startswith("#")]
    return {slot: family for slot, family in rows}


def main():
    cp = run.build()
    out = os.path.join(run.RUNS_DIR, f"slots-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    listing = os.path.join(out, "registry.tsv")
    run.run_jvm(cp, out, ["--list-slots", listing])
    with open(listing) as f:
        registry = dict(l.rstrip("\n").split("\t") for l in f if l.strip())
    pinned = pinned_slots()
    gone = sorted(set(pinned) - set(registry))
    unpinned = sorted(set(registry) - set(pinned))
    no_check = sorted(s for s in pinned if registry.get(s) == "0"
                      and not os.path.isfile(os.path.join(HERE, "pins", f"{s}.json")))
    print(f"registry: {len(registry)} slots; pinned: {len(pinned)}")
    print(f"pinned but not in the registry (fail every run): {gone or 'none'}")
    print(f"pinned without oracle SQL or pin file: {no_check or 'none'}")
    print(f"in the registry but not pinned ({len(unpinned)}): {' '.join(unpinned)}")
    return 1 if gone or no_check else 0


if __name__ == "__main__":
    sys.exit(main())

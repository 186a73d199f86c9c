#!/bin/bash
# Fork census: how many times a command starts chmod, readlink, ls and
# stat, the programs Hadoop's local filesystem forks when it runs
# without native IO (setPermission, link resolution, permission loads).
#
#   tools/fork_census.sh <command…>
#   tools/fork_census.sh python3 perfbench/run.py --workload ingest --seed 314 --seconds 20 --trace 1
#
# Puts a logging wrapper for each of the four programs first on PATH,
# runs the command and prints the count per program.  If the command
# writes a perfbench trace (a traced run's .bench_runs/<run>/trace.json
# under the current directory), each fork is also attributed to the
# innermost span open when it started, and the counts are printed per
# span name.  The wrappers log wall-clock microseconds; the spans are
# CLOCK_MONOTONIC (the JVM's nanoTime), so the two clocks' offset is
# read at the start and checked at the end.  Exits with the command's
# status.
set -u
if [ $# -eq 0 ]; then echo "usage: $0 <command…>" >&2; exit 2; fi
PROGS="chmod readlink ls stat"
work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
mkdir "$work/bin"
log="$work/forks.log"
: > "$log"
for p in $PROGS; do
  real=$(type -P "$p") || continue
  printf '#!/bin/bash\nprintf "%%s %%s\\n" %s "$EPOCHREALTIME" >> %q\nexec %q "$@"\n' \
    "$p" "$log" "$real" > "$work/bin/$p"
  chmod +x "$work/bin/$p"
done
clock_offset() { python3 -c 'import time; print(time.time_ns() - time.monotonic_ns())'; }
offset=$(clock_offset)
touch "$work/start"
PATH="$work/bin:$PATH" "$@"
status=$?
python3 - "$log" "$work/start" "$offset" "$(clock_offset)" $PROGS <<'EOF'
import glob, json, os, sys
from collections import Counter, defaultdict
log, start, off0, off1, progs = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), sys.argv[5:]
forks = []
for line in open(log):
    prog, t = line.split()
    forks.append((prog, int(t.replace(".", "")) * 1000 - off0))  # monotonic ns
total = Counter(p for p, _ in forks)
print("forks per program: " + ", ".join(f"{p} {total[p]}" for p in progs))
since = os.path.getmtime(start)
traces = [t for t in glob.glob(".bench_runs/*/trace.json") if os.path.getmtime(t) >= since]
if abs(off1 - off0) > 1_000_000:
    print(f"wall and monotonic clocks drifted {abs(off1 - off0) / 1e6:.1f} ms apart; span attribution skipped")
    traces = []
for trace in traces:
    spans = json.load(open(trace))["spans"]
    per = defaultdict(Counter)
    for prog, t in forks:
        inside = [s for s in spans if s["start_ns"] <= t <= s["end_ns"]]
        name = max(inside, key=lambda s: s["start_ns"])["name"] if inside else "(no span)"
        per[name][prog] += 1
    n = Counter(s["name"] for s in spans)
    print(f"\nper span name ({trace}): spans, then forks in them (per span)")
    for name in sorted(per, key=lambda k: -sum(per[k].values())):
        cells = ", ".join(f"{p} {per[name][p]}" + (f" ({per[name][p] / n[name]:.1f})" if n[name] else "")
                          for p in progs if per[name][p])
        print(f"  {name:<16} {n[name]:>4}  {cells}")
EOF
exit $status

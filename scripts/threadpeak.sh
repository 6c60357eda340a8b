#!/bin/bash
# Peak thread count and peak resident memory of every process a command
# starts.
#
#   scripts/threadpeak.sh <cmd...>
#
# Runs <cmd> and, every 200 ms until it exits, reads `Threads:` and
# `VmHWM:` from /proc/<pid>/status of <cmd> and of each of its live
# descendants. Then prints one `<pid> <name> threads <peak>
# vmhwm_mb <peak>` line per process seen to stderr, and exits with
# <cmd>'s exit code. A descendant that lives less than 200 ms can be
# missed; <cmd> itself is always read at least once. Needs no profiler:
# e.g. the state-store checksum threads a streaming JVM accumulates show
# as its thread peak.
set -u
[ $# -gt 0 ] || { echo "usage: $0 <cmd...>" >&2; exit 2; }
exec python3 -c '
import os, subprocess, sys, time

proc = subprocess.Popen(sys.argv[1:])
peaks = {}  # pid -> [name, threads, vmhwm kB]


def descendants(root):
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out = [root]
    for pid in out:
        out.extend(kids.get(pid, []))
    return out


def sample():
    for pid in descendants(proc.pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(l.split(":", 1) for l in f.read().splitlines() if ":" in l)
        except OSError:
            continue
        p = peaks.setdefault(pid, [st["Name"].strip(), 0, 0])
        p[1] = max(p[1], int(st["Threads"]))
        p[2] = max(p[2], int(st.get("VmHWM", "0 kB").split()[0]))


# sample BEFORE reaping: a command that already exited is still a zombie
while True:
    sample()
    if proc.poll() is not None:
        break
    time.sleep(0.2)
for pid, (name, threads, hwm) in sorted(peaks.items()):
    print(f"{pid} {name} threads {threads} vmhwm_mb {hwm // 1024}", file=sys.stderr)
sys.exit(proc.returncode)
' "$@"

"""Fork census of a JFR recording: jdk.ProcessStart by command and by the
checkpoint file the command touched.

    python3 plans/r25/fork_census.py <recording.jfr>...
"""
import json, re, subprocess, sys, collections
def kind(cmd):
    if re.search(r"/offsets/", cmd): return "offset log (walCommit)"
    if re.search(r"/commits/", cmd): return "commit log (commitOffsets)"
    if re.search(r"/sources/", cmd): return "file-source log"
    if re.search(r"/SSTs", cmd): return "state SST upload (FileSystem API)"
    if re.search(r"/state/.*\.(zip|changelog)", cmd): return "state checkpoint (.zip / .changelog + checksum)"
    if re.search(r"/state/.*(_metadata|schema|commits)", cmd): return "state metadata / schema"
    if re.search(r"/state/", cmd): return "state (other)"
    if re.search(r"/metadata", cmd): return "stream metadata"
    if cmd.startswith("rm "): return "local RocksDB dirs"
    return "other"
for f in sys.argv[1:]:
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1", "--events", "jdk.ProcessStart", f],
                         capture_output=True, text=True, check=True).stdout
    evs = json.loads(out)["recording"]["events"]
    cmds = collections.Counter(); by = collections.Counter()
    for e in evs:
        c = e["values"]["command"]
        exe = c.split()[0].rsplit("/", 1)[-1]
        if exe == "rm": exe = "rm -rf"
        cmds[exe] += 1; by[(exe, kind(c))] += 1
    print(f"## {f}: {len(evs)} process starts: " + ", ".join(f"{k} {n}" for k, n in cmds.most_common()))
    for (c, k), n in sorted(by.items(), key=lambda x: -x[1]): print(f"    {c:9s} {n:5d}  {k}")

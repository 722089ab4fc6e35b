#!/usr/bin/env python3
"""Split `graft.Explain` output into one normalized plan file per query.

Usage:
  sbt -batch "runMain graft.Explain q_a q_b ..." > explain.log
  python3 tools/split_plans.py explain.log OUT_DIR SUFFIX

Writes OUT_DIR/<query>_<SUFFIX>.txt for every `========== <query> ==========`
section. Run-to-run noise is normalized so two runs of the same plan compare
equal with `diff`: expression ids (`#123` -> `#N`), lambda variable names
(`x_45` -> `x_N`), exchange plan ids (`plan_id=9` -> `plan_id=N`), the
random suffix of `graft-*` temp directories, and in streaming plans the JVM
lambda class names, object identity hashes, the query's run id and the node
id an `EventTimeWatermark` carries.
"""
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
NOISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(/graft-[a-z-]+?)\d+\b"), r"\1N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(\w)@[0-9a-f]{5,8}\b"), r"\1@H"),
    (re.compile(r"runId = [0-9a-f-]{36}"), "runId = R"),
    (re.compile(r"^Arguments: [0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}, "),
     "Arguments: U, "),
]
# Spark log lines and sbt chatter that may interleave with the plans
LOG = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d |\[(info|warn|error|success)\])")


def main(log, out_dir, suffix):
    plans, name = {}, None
    with open(log) as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                plans[name] = []
            elif name and not LOG.match(line):
                for pat, rep in NOISE:
                    line = pat.sub(rep, line)
                plans[name].append(line)
    for name, lines in plans.items():
        with open(f"{out_dir}/{name}_{suffix}.txt", "w") as out:
            out.write("\n".join(lines).strip("\n") + "\n")
        print(f"{name}: {len(lines)} lines")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(*sys.argv[1:])

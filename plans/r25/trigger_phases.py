"""Median trigger phases of open-loop triggers (those starting inside the
`open_loop` span) from a perfbench trace artifact, plus per-layer state metrics.

    python3 plans/r25/trigger_phases.py .bench_build/artifacts/<run>-t1-<pid>.json...
"""
import json, sys, statistics as st
PH = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution"]
for f in sys.argv[1:]:
    a = json.load(open(f))
    ol = next(s for s in a["spans"] if s["name"] == "open_loop")
    t = [x for x in a["triggers"] if x["start_ms"] >= ol["start_ms"]]
    for kind, sel in (("rows", [x for x in t if x["rows"] > 0]), ("empty", [x for x in t if x["rows"] == 0])):
        if not sel: continue
        med = {p: st.median(x["durations_ms"].get(p, 0) for x in sel) for p in PH}
        print(f"{f.split('/')[-1]} {kind}: n={len(sel)} rows={st.median(x['rows'] for x in sel)} " +
              " ".join(f"{p}={med[p]:.0f}" for p in PH))
    L = a["layers"]
    print("  layers:", {k: round(L.get(k, 0), 1) for k in ["streaming.trigger.walCommit_ms", "streaming.trigger.commitOffsets_ms",
          "streaming.trigger.latestOffset_ms", "streaming.trigger.addBatch_ms", "streaming.trigger.triggerExecution_ms",
          "streaming.trigger.count", "streaming.state.commit_ms", "streaming.state.memory_bytes", "streaming.state.rows_total"]},
          "correct:", a["failed"] == 0)

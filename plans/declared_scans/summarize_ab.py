"""Summarize ab.sh results: per-pair end-to-end metrics, then each side's
median and quartiles and the change's win count per metric.

    python3 summarize_ab.py OUT_DIR WORKLOAD
"""
import glob
import json
import statistics
import sys

out, w = sys.argv[1], sys.argv[2]
keys = ["setup_s", "first_pass_s", "pass_s", "query_geomean_s", "peak_rss_mb"]
seeds = sorted(int(f.rsplit("_", 1)[1].split(".")[0]) for f in glob.glob(f"{out}/ab_{w}_new_*.json"))
vals = {k: {"base": [], "new": []} for k in keys}
wins = dict.fromkeys(keys, 0)
for s in seeds:
    d = {side: json.load(open(f"{out}/ab_{w}_{side}_{s}.json")) for side in ("base", "new")}
    for side in d:
        assert d[side]["correct"] and d[side]["failed"] == 0, (s, side)
    line = []
    for k in keys:
        b, c = d["base"]["metrics"][k]["value"], d["new"]["metrics"][k]["value"]
        vals[k]["base"].append(b)
        vals[k]["new"].append(c)
        wins[k] += c < b
        line.append(f"{k}={b:.3f}->{c:.3f}")
    print(s, " ".join(line))


def quart(v):
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


print(f"{w}: {len(seeds)} pairs, all correct, failed 0")
for k in keys:
    b, c = quart(vals[k]["base"]), quart(vals[k]["new"])
    print(
        f"  {k}: base median {b[1]:.3f} [q1 {b[0]:.3f}, q3 {b[2]:.3f}]  "
        f"new median {c[1]:.3f} [q1 {c[0]:.3f}, q3 {c[2]:.3f}]  "
        f"change {100 * (c[1] / b[1] - 1):+.1f}%  new wins {wins[k]}/{len(seeds)}"
    )

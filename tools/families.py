#!/usr/bin/env python3
"""Dev-only per-family bench aggregation (the docs/SCALE.md growth table).

The r8/r10 growth tables were hand-grouped; this records the key→family
classification as code so the table is reproducible and every future key
must be classified (the script FAILS on unassigned or unknown keys).

Usage:
  python3 tools/families.py BENCH_A.json [BENCH_B.json ...]

Each argument is either a raw `graft.Bench` JSON line (a file containing
{"metric":...,"queries":{...}}) or a driver BENCH_r*.json wrapper with a
"parsed" field. Prints one per-family column per input, in input order.

NOT part of the shipped library — driver-side python only.
"""
import json
import sys

sys.path.insert(0, "tools")
import benchkey  # noqa: E402

FAMILIES = {
    "relational aggs/stats": """
        pv as gm rr ru cs cu mn di fr hi zs me co pc pt gs md eh qn gy
        ap ac wi cp bf ky ma nt to tg rk dq""",
    "cleaning / projection": """
        na cd b2 se sc dt ok nn nd ns ls ri sx dp ra""",
    "joins incl. geo": """
        ed lj ln un cb sj aj ps so nj fo gj gc gn bk sk""",
    "temporal joins / series": """
        af ak rn lo rs la""",
    "dedup / ANN / text": """
        ex sb s4 mh sh ng pj m1 m3 dd ss id bl
        li qu tk fp tf ii hh vo bp bm m2 rv ld
        at al ai em e1 a1 es x""",
    "curation + sources": """
        re sm dc tm sp cw do rp cc hm wm fd sv jl or ck je en e2""",
    "multimodal": "mm im au vi",
    "streaming (+batch window twins)": """
        wt ws we st sl s0 ts te sr s1 s_ tc sf td t5 c1 tt""",
    "graph / behavior analytics": """
        pr tr op ab a0 s2 mk s3 ci vw cn sy an cg vd tw ch fu""",
    "versioning / layout": "sn mg sd ca zo ia",
    "ML training + models": "ol go os fm rf gb cv cl o0 ml mr",
}


def classification():
    fam = {}
    for f, keys in FAMILIES.items():
        for k in keys.split():
            assert k not in fam, f"key {k} classified twice"
            fam[k] = f
    subs = benchkey.pairs()
    registered = {benchkey.bench_key(n, subs): n for n in benchkey.registered()}
    missing = sorted(set(registered) - set(fam))
    unknown = sorted(set(fam) - set(registered))
    assert not missing, f"unclassified catalog keys: {missing}"
    assert not unknown, f"classified but unregistered keys: {unknown}"
    return fam


def load_queries(path):
    d = json.load(open(path))
    if "parsed" in d:
        d = d["parsed"]
    return d["queries"], d.get("sf", "?")


def main(paths):
    fam = classification()
    cols = [load_queries(p) for p in paths]
    names = list(FAMILIES)
    counts = {f: sum(1 for k in fam if fam[k] == f) for f in names}
    print("| family | " + " | ".join(sf for _, sf in cols) + " |")
    print("|---" * (len(cols) + 1) + "|")
    totals = [0.0] * len(cols)
    for f in names:
        row = []
        for i, (qs, _) in enumerate(cols):
            failed = sorted(k for k, v in qs.items()
                            if fam.get(k) == f and v < 0)
            if failed:
                # Bench records a failed query as a negative sentinel;
                # clamping it to 0 s would silently hide the failure in a
                # table meant as reproducible evidence. Fail loudly.
                raise SystemExit(
                    f"FAILED queries (negative time sentinel) in family "
                    f"'{f}': {failed}")
            s = sum(v for k, v in qs.items()
                    if fam.get(k) == f)
            totals[i] += s
            row.append(f"{s:.1f} s")
        print(f"| {f} ({counts[f]} q) | " + " | ".join(row) + " |")
    n = len(fam)
    print(f"| **catalog total ({n} q)** | "
          + " | ".join(f"**{t:.1f} s**" for t in totals) + " |")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        classification()
        print("classification complete and consistent")
    else:
        main(sys.argv[1:])

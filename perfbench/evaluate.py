"""Output checks and end-to-end metrics of each workload, from the raw
record the engine side writes and the generator's own answers."""

import json
import os
import re
import statistics

from metrics import UNITS, tail

WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java's \s
# Share of the planted reposts (exact Jaccard spread over [0.8, 1)) a
# dedup job must find. The engine's candidate generation is sketch
# based, so its recall is probabilistic by design (Dedup.multiSketchPairs):
# minhash banding alone (4 bands of 8 rows) finds a pair of Jaccard J
# with probability 1 - (1 - J^8)^4, about 0.83 on this spread; the
# union with simhash chunks measured 0.99-1.0.
RECALL_FLOOR = 0.95


def shingles(text, w=3):
    """The engine's near-duplicate unit, re-derived independently:
    lowercase, trim spaces, split on whitespace, distinct w-word
    shingles (a shorter text is one whole-text shingle)."""
    toks = WS.split(text.strip(" ").lower())
    while toks and toks[-1] == "":
        toks.pop()
    if len(toks) < w:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}


def jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Tally:
    """Counts attempted and failed operations; keeps the first few
    failure messages."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.problems = []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 10:
                self.problems.append(what)


def rate(n, seconds):
    return n / seconds if seconds > 0 else 0.0


def ingest_refresh(rec, expected, inputs):
    t = Tally()
    ingest, refresh, stored, refresh_s = [], [], [], []
    for k, op in enumerate(rec["ops"]):
        r, want = op["r"], expected["cycles"][k]
        t.check(r["e621"] == want["e621"] and r["fa"] == want["fa"],
                "cycle %d acks %s %s != %s" % (k, r["e621"], r["fa"], want))
        snaps = (r["e621"]["submission_snapshots"] +
                 r["fa"]["submission_snapshots"] + r["fa"]["user_snapshots"])
        ingest.append(rate(snaps, r["ingest_s"]))
        refresh.append(rate(snaps, r["refresh_s"]))
        refresh_s.append(r["refresh_s"])
        stored.append(r["stored_bytes"] / r["in_bytes"])
    warm = rec["finish"]["warmup"]
    for k, (r, want) in enumerate(zip(warm, expected["warmup"])):
        t.check(r["e621"] == want["e621"] and r["fa"] == want["fa"],
                "warm-up cycle %d acks %s %s != %s" % (k, r["e621"], r["fa"], want))
    t.check(len(warm) == len(expected["warmup"]),
            "%d of %d warm-up cycles ran" % (len(warm), len(expected["warmup"])))
    t.check(len(rec["ops"]) == len(expected["cycles"]),
            "%d of %d refresh cycles ran" % (len(rec["ops"]), len(expected["cycles"])))
    fin = rec["finish"]
    inc, full = fin["merged"]
    t.check(inc == full, "incremental merged submissions %s != exported full "
            "re-merge %s" % (inc, full))
    t.check(fin["merged_users"][0] == fin["merged_users"][1],
            "incremental merged users %s != full re-merge %s"
            % tuple(fin["merged_users"]))
    entities = int(full.split(":")[0])
    export_s = statistics.median(fin["export_s"])
    steps = (statistics.median(ingest), statistics.median(refresh),
             rate(entities, export_s))
    named = {
        "ingest_snapshots_per_s": (steps[0], "1/s"),
        "refresh_batch_p50_s": (statistics.median(refresh_s), "s"),
        "export_entities_per_s": (steps[2], "1/s"),
        "store_bytes_per_input_byte": (statistics.median(stored), "ratio"),
        "cycles": (len(rec["ops"]), "count"),
    }
    timed = [("cycle", op["ms"], op["traced"]) for op in rec["ops"]]
    return t, steps, named, timed


def analytics(rec, expected, inputs):
    t = Tally()
    docs = {}
    with open(os.path.join(inputs, "docs.jsonl")) as f:
        for line in f:
            d = json.loads(line)
            docs[d["doc_id"]] = d["text"]
    sh = {}

    def sset(i):
        if i not in sh:
            sh[i] = shingles(docs[i])
        return sh[i]

    planted = [tuple(p) for p in expected["repost_pairs"]]
    near = {(a, b) for a, b, _ in expected["near_misses"]}
    k = expected["topk"]
    times = {"dedup": [], "topk": [], "asof": []}
    recall = []
    for n, op in enumerate(rec["ops"]):
        r = op["r"]
        times[r["op"]] += r["s"] if isinstance(r["s"], list) else [r["s"]]
        if r["op"] == "dedup":
            found = {(a, b) for a, b, _ in r["pairs"]}
            missing = [p for p in planted if p[:2] not in found]
            recall.append(1.0 - len(missing) / len(planted))
            bad = [(a, b, j) for a, b, j in r["pairs"]
                   if not (jaccard(sset(a), sset(b)) >= 0.8 and
                           abs(jaccard(sset(a), sset(b)) - j) < 1e-9)]
            cluster = {node: c for node, c in r["comps"]}
            split = [p for p in found if cluster.get(p[0]) != cluster.get(p[1])]
            t.check(recall[-1] >= RECALL_FLOOR and not bad and not split and
                    not (near & found),
                    "dedup op %d: %d of %d planted pairs missing (exact "
                    "Jaccard %s), %d pairs below exact Jaccard 0.8, %d "
                    "near-misses reported, %d found pairs split"
                    % (n, len(missing), len(planted),
                       sorted(p[2] for p in missing), len(bad),
                       len(near & found), len(split)))
        elif r["op"] == "topk":
            per = {}
            for qid, rank, nid, cos in r["rows"]:
                per.setdefault(qid, []).append((rank, cos, nid))
            wrong = [q for q in docs if sorted(x[0] for x in per.get(q, [])) !=
                     list(range(1, k + 1))]
            for q, rows in per.items():
                rows.sort()
                if any(rows[i][1] < rows[i + 1][1] for i in range(len(rows) - 1)) \
                        or any(nid == q for _, _, nid in rows):
                    wrong.append(q)
            t.check(not wrong, "topk op %d: %d documents without %d ranked, "
                    "non-increasing, non-self rows" % (n, len(wrong), k))
        else:
            got = {sid: usid for sid, usid in r["rows"]}
            bad = [s for s, want in expected["asof"].items()
                   if got.get(int(s), "absent") != want]
            t.check(len(r["rows"]) == expected["left_rows"] and not bad,
                    "asof op %d: %d rows for %d, %d sampled rows differ from "
                    "the brute-force pick" % (n, len(r["rows"]),
                                               expected["left_rows"], len(bad)))
    for op, s in sorted(times.items()):
        t.check(bool(s), "no timed %s job: the run did not complete a round" % op)
    med = {op: statistics.median(s) if s else 0.0 for op, s in times.items()}
    steps = (rate(expected["docs"], med["dedup"]),
             rate(expected["docs"], med["topk"]),
             rate(expected["left_rows"], med["asof"]))
    named = {name: (v, "1/s") for name, v in zip(
        ("dedup_docs_per_s", "topk_docs_per_s", "asof_rows_per_s"), steps)}
    named["dedup_recall"] = (min(recall, default=0.0), "ratio")
    named.update({"%s_runs" % op: (len(s), "count") for op, s in times.items()})
    timed = [(op["r"]["op"], op["ms"], op["traced"]) for op in rec["ops"]]
    return t, steps, named, timed


def lookup_mix(rec, expected, inputs):
    t = Tally()
    lookups = []
    for n, op in enumerate(rec["ops"]):
        r, e = op["r"], expected["ops"][n]
        kind = e["kind"]
        if kind == "write":
            t.check(r.get("submission_snapshots") == e["acked"],
                    "op %d: write acked %s" % (n, r))
            continue
        lookups.append(op["ms"])
        if kind == "view_submission" and e.get("miss"):
            ok = json.loads(r).get("error", {}).get("code") == 404
        elif kind == "view_submission":
            d = json.loads(r)
            ok = ("cache_data" in d and d["cache_data"]["snapshot_count"] == e["count"]
                  and d["submission_data"]["title"] == e["title"])
        elif kind == "view_submission_snapshots":
            ok = r == e["count"]
        elif kind == "view_user":
            ds = [json.loads(x) for x in r]
            ok = (len(ds) == 1 and ds[0]["cache_data"]["snapshot_count"] == e["count"]
                  and ds[0]["user_data"]["display_name"] == e["name"])
        else:
            ok = len(r) == e["count"] and all(x == "e621/" + e["id"] for x in r)
        t.check(ok, "op %d: %s returned %.200s, expected %s" % (n, kind, r, e))
    total_s = sum(op["ms"] for op in rec["ops"]) / 1000.0
    p50 = statistics.median(lookups) if lookups else 0.0
    tl = tail(lookups)
    tail_ms = tl[1] if tl else max(lookups, default=0.0)
    steps = (rate(len(rec["ops"]), total_s), rate(1000.0, p50), rate(1000.0, tail_ms))
    named = {
        "lookup_p50_ms": (p50, "ms"),
        "lookup_tail_ms": (tail_ms, "ms"),
        "lookup_tail_percentile": (tl[0] if tl else 100.0, "%"),
        "lookup_samples": (len(lookups), "count"),
        "lookup_ops_per_s": (steps[0], "1/s"),
    }
    timed = [(e["kind"], op["ms"], op["traced"])
             for op, e in zip(rec["ops"], expected["ops"])]
    return t, steps, named, timed


WORKLOADS = {"ingest_refresh": ingest_refresh, "analytics": analytics,
             "lookup_mix": lookup_mix}


def evaluate(workload, rec, expected, inputs):
    """(tally, end_to_end metrics, named summary metrics, op timings)."""
    t, steps, named, timed = WORKLOADS[workload](rec, expected, inputs)
    e2e = {"setup_s": statistics.median(rec["setup_s"]),
           "heap_peak_mb": rec["heap_peak_mb"]}
    for i, v in enumerate(steps):
        e2e["step%d_per_s" % (i + 1)] = v
    e2e = {k: (v, UNITS[k]) for k, v in e2e.items()}
    named = dict(named)
    named["failed_op_ratio"] = (t.failed / t.attempted if t.attempted else 0.0,
                                "ratio")
    return t, e2e, named, timed

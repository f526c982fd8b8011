"""Seeded input generator for the archive-path benchmark.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes the files the engine receives (e621 CSV dumps, FAExport JSON
payload files, a description corpus, user snapshots) plus two records
the engine never reads:

  manifest.tsv   what to load, in order (one line per input batch/op)
  expected.json  the generator's own answers, used by the output checks

The same seed gives byte-identical files: every random draw comes from
one ``random.Random(seed)`` and nothing depends on dict order, hashing
salt, the clock or the environment.
"""

import argparse
import bisect
import csv
import datetime
import hashlib
import io
import json
import os
import random

# Workload properties. BENCHMARK.json and README.md state the same values.
ZIPF_S = 1.1            # key skew for re-scans and lookups
ARCHIVE_DUMPS = 2       # base archive: dumps per site
ARCHIVE_FIRST_NEW = 1200  # entities per site in the first dump
ARCHIVE_RESCANS = 600   # re-scanned entities per site in each later dump
ARCHIVE_NEW = 200       # new entities per site in each later dump
WARMUP_CYCLES = 1       # ingest_refresh: untimed cycles before the window
REFRESH_CYCLES = 2      # ingest_refresh: measured e621 + FAExport batch pairs
REFRESH_RESCANS = 180   # per site and cycle
REFRESH_NEW = 120       # per site and cycle
LOOKUP_OPS = 6000
LOOKUP_MIX = (          # (op, share); misses are view_submission keys
    ("view_submission", 0.50), ("miss", 0.05),
    ("view_submission_snapshots", 0.10), ("view_user", 0.15),
    ("hash_search", 0.15), ("write", 0.05))
WRITE_ROWS = 4          # e621 re-scans per lookup_mix write
DOCS = 1200             # analytics corpus size, reposts included
REPOST_RATE = 0.10      # share of corpus docs that are cross-site reposts
REPOST_J_LO = 0.8       # their exact shingle Jaccard is spread over [0.8, 1)
NEAR_MISS_RATE = 0.03   # share of corpus docs edited to just below 0.8
NEAR_MISS_J_LO = 0.7    # their Jaccard lies in [0.7, 0.8)
UPLOADERS = 200
HOT_SHARE = 0.25        # share of submission snapshots by the hot uploader
SCANS_PER_DOC = 10      # submission snapshots per corpus doc
USER_SNAPS = 6          # user snapshots per uploader (hot uploader: 10x)
ASOF_SAMPLE = 400       # as-of rows checked against a brute-force pick
TOPK = 3

E621_HEADER = (
    "id,uploader_id,created_at,md5,source,rating,image_width,image_height,"
    "tag_string,locked_tags,fav_count,file_ext,parent_id,change_seq,"
    "approver_id,file_size,comment_count,description,duration,updated_at,"
    "is_deleted,is_pending,is_flagged,score,up_score,down_score,"
    "is_rating_locked,is_status_locked,is_note_locked").split(",")
EPOCH = datetime.datetime(2023, 1, 1)


def ts(seconds):
    return (EPOCH + datetime.timedelta(seconds=seconds)).strftime(
        "%Y-%m-%d %H:%M:%S")


def vocabulary(rng, n):
    syll = ["ka", "ro", "mi", "tu", "se", "la", "no", "vi", "pe", "da",
            "shi", "ren", "fox", "wolf", "art", "paw", "tail", "ink"]
    words = []
    seen = set()
    while len(words) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Rank r (0-based) drawn with weight 1 / (r + 1) ** s."""

    def __init__(self, n, s):
        self.cum = []
        total = 0.0
        for r in range(n):
            total += 1.0 / (r + 1) ** s
            self.cum.append(total)

    def draw(self, rng, n=None):
        top = self.cum[(n or len(self.cum)) - 1]
        return bisect.bisect_left(self.cum, rng.random() * top)

    def sample(self, rng, n, k):
        """k distinct ranks below n (k well under n)."""
        out, seen = [], set()
        while len(out) < k:
            r = self.draw(rng, n)
            if r not in seen:
                seen.add(r)
                out.append(r)
        return out


def words(rng, vocab, zipf, lo, hi):
    return [vocab[zipf.draw(rng)] for _ in range(rng.randint(lo, hi))]


class Archive:
    """Entity state of both sites, mirrored from every emitted snapshot,
    so the generator knows each entity's merged answer."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = vocabulary(rng, 1500)
        self.wz = Zipf(len(self.vocab), 1.0)
        self.kz = Zipf(20000, ZIPF_S)
        self.e621 = []      # entity dicts, popularity = list order
        self.fa = []
        self.users = {}     # profile_name -> {"count", "name"}
        self.n_users = 400

    def new_e621(self):
        eid = str(100000 + len(self.e621))
        e = {"id": eid, "count": 0, "title": None,
             "md5": hashlib.md5(("e621-" + eid).encode()).hexdigest(),
             "uploader": str(self.rng.randint(1, 900)),
             "ext": self.rng.choice(["png", "jpg", "gif"]),
             "w": self.rng.randint(300, 4000), "h": self.rng.randint(300, 4000)}
        self.e621.append(e)
        return e

    def new_fa(self):
        e = {"id": str(5000000 + len(self.fa)), "count": 0, "title": None,
             "uploader": "user%d" % self.kz.draw(self.rng, self.n_users)}
        self.fa.append(e)
        return e

    def pick(self, pool, k):
        return [pool[r] for r in self.kz.sample(self.rng, len(pool), k)]

    def e621_rows(self, ents, scan):
        rng, out = self.rng, []
        for e in ents:
            e["count"] += 1
            tags = sorted(set(words(rng, self.vocab, self.wz, 3, 12)))
            score = rng.randint(0, 500)
            out.append([
                e["id"], e["uploader"], ts(scan - 86400 * 30), e["md5"],
                "https://example.net/src/" + e["id"],
                rng.choice("eqs"), e["w"], e["h"], " ".join(tags), "",
                rng.randint(0, 900), e["ext"], "", rng.randint(1, 99999), "",
                rng.randint(10000, 9000000), rng.randint(0, 40),
                " ".join(words(rng, self.vocab, self.wz, 5, 25)), "",
                ts(scan - 60), "t" if rng.random() < 0.02 else "f", "f", "f",
                score, score + rng.randint(0, 20), -rng.randint(0, 20),
                "f", "f", "f"])
        return out

    def fa_payloads(self, ents, scan, batch):
        rng, out = self.rng, []
        for e in ents:
            e["count"] += 1
            title = None if rng.random() < 0.1 else (
                "Title %s r%d" % (e["id"], rng.randint(0, 3)))
            if title is not None:
                e["title"] = title
            u = self.users.setdefault(e["uploader"], {"count": 0, "name": None})
            u["count"] += 1
            # one display name per user and batch: duplicate user
            # snapshots of one batch must agree (same snapshot id)
            u["name"] = "%s v%d" % (e["uploader"].title(), batch // 3)
            res = "%dx%d" % (rng.randint(300, 3000), rng.randint(300, 3000))
            out.append({
                "link": "https://www.furaffinity.net/view/%s/" % e["id"],
                "profile_name": e["uploader"], "name": u["name"],
                "title": title,
                "description": " ".join(words(rng, self.vocab, self.wz, 5, 30)),
                "posted_at": ts(scan - 86400 * 10),
                "rating": rng.choice(["General", "Mature", "Adult"]),
                "category": "Artwork", "theme": "All", "species": "Fox",
                "gender": "Any", "favorites": rng.randint(0, 500),
                "comments": rng.randint(0, 50), "views": rng.randint(0, 9000),
                "keywords": words(rng, self.vocab, self.wz, 2, 10),
                "download": "https://d.example.net/art/%s.png" % e["id"],
                "thumbnail": "https://t.example.net/%s.jpg" % e["id"],
                "full": "https://f.example.net/%s.jpg" % e["id"],
                "resolution": res,
                "avatar": "https://a.example.net/%s.gif" % e["uploader"]})
        return out


def write_csv(path, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(E621_HEADER)
    w.writerows(rows)
    with open(path, "w", newline="") as f:
        f.write(buf.getvalue())


def write_jsonl(path, objs):
    with open(path, "w") as f:
        for o in objs:
            f.write(json.dumps(o, sort_keys=True) + "\n")


def acks(kind, rows):
    """Row counts Api.ingest* must acknowledge for one batch."""
    if kind == "e621":
        kw = sum(len([t for t in r[8].split(" ") if t]) for r in rows)
        return {"submission_snapshots": len(rows),
                "submission_snapshot_keywords": kw,
                "submission_snapshot_files": len(rows),
                "submission_snapshot_file_hashes": len(rows)}
    return {"submission_snapshots": len(rows),
            "submission_snapshot_keywords": sum(len(p["keywords"]) for p in rows),
            "submission_snapshot_files": len(rows),
            "submission_snapshot_file_hashes": 0,
            "user_snapshots": len(rows)}


def emit_batch(arc, out, lines, name, site, ents, scan, batch):
    """One input batch file plus its manifest line; returns its acks."""
    if site == "e621":
        rows = arc.e621_rows(ents, scan)
        rel = name + ".csv"
        write_csv(os.path.join(out, rel), rows)
    else:
        rows = arc.fa_payloads(ents, scan, batch)
        rel = name + ".jsonl"
        write_jsonl(os.path.join(out, rel), rows)
    lines.append("\t".join([site, rel, ts(scan)]))
    return acks(site, rows)


def base_archive(arc, out, lines):
    os.makedirs(os.path.join(out, "base"))
    for d in range(ARCHIVE_DUMPS):
        scan = d * 86400
        for site in ("e621", "fa"):
            pool = arc.e621 if site == "e621" else arc.fa
            make = arc.new_e621 if site == "e621" else arc.new_fa
            if d == 0:
                ents = [make() for _ in range(ARCHIVE_FIRST_NEW)]
            else:
                ents = arc.pick(pool, ARCHIVE_RESCANS) + \
                    [make() for _ in range(ARCHIVE_NEW)]
            emit_batch(arc, out, lines, "base/%s_%d" % (site, d), site, ents,
                       scan, d)
    return ARCHIVE_DUMPS * 86400


def refresh_cycles(arc, out, lines, scan):
    """Cycles of one e621 and one FAExport batch, the warm-up cycles
    first; returns their acks (warm-up, measured)."""
    os.makedirs(os.path.join(out, "batches"))
    expected = []
    for c in range(WARMUP_CYCLES + REFRESH_CYCLES):
        scan += 3600
        label = ("warmup%d" % c if c < WARMUP_CYCLES
                 else "cycle%d" % (c - WARMUP_CYCLES))
        cycle = {}
        for site in ("e621", "fa"):
            pool = arc.e621 if site == "e621" else arc.fa
            make = arc.new_e621 if site == "e621" else arc.new_fa
            ents = arc.pick(pool, REFRESH_RESCANS) + \
                [make() for _ in range(REFRESH_NEW)]
            cycle[site] = emit_batch(arc, out, lines, "batches/%s_%03d" % (
                site, c), site, ents, scan, ARCHIVE_DUMPS + c)
            lines[-1] = "%s\t%s" % (label, lines[-1])
        expected.append(cycle)
    return expected[:WARMUP_CYCLES], expected[WARMUP_CYCLES:]


def gen_ingest_refresh(rng, out):
    arc = Archive(rng)
    base = []
    scan = base_archive(arc, out, base)
    lines = ["base\t" + l for l in base]
    warmup, cycles = refresh_cycles(arc, out, lines, scan)
    return lines, {"warmup": warmup, "cycles": cycles}


def gen_lookup_mix(rng, out):
    arc = Archive(rng)
    lines = []
    scan = base_archive(arc, out, lines)
    lines = ["base\t" + l for l in lines]
    os.makedirs(os.path.join(out, "writes"))
    users = sorted(arc.users)
    # lookup popularity: a seeded shuffle, so hot keys are not simply
    # the oldest entities
    subs = [("e621", e) for e in arc.e621] + [("fa", e) for e in arc.fa]
    rng.shuffle(subs)
    rng.shuffle(users)
    e621 = list(arc.e621)
    rng.shuffle(e621)
    kinds = [k for k, _ in LOOKUP_MIX]
    cum = []
    acc = 0.0
    for _, share in LOOKUP_MIX:
        acc += share
        cum.append(acc)
    expected = []
    writes = 0
    for i in range(LOOKUP_OPS):
        kind = kinds[min(bisect.bisect_left(cum, rng.random() * acc),
                         len(kinds) - 1)]
        if kind == "miss":
            site = rng.choice(["e621", "fa"])
            key = str(90000000 + rng.randint(0, 9999999))
            lines.append("op\tview_submission\t%s\t%s\t" % (site, key))
            expected.append({"kind": "view_submission", "miss": True})
        elif kind in ("view_submission", "view_submission_snapshots"):
            site, e = subs[arc.kz.draw(rng, len(subs))]
            lines.append("op\t%s\t%s\t%s\t" % (kind, site, e["id"]))
            expected.append({"kind": kind, "count": e["count"],
                             "title": e["title"]})
        elif kind == "view_user":
            name = users[arc.kz.draw(rng, len(users))]
            u = arc.users[name]
            lines.append("op\tview_user\tfa\t%s\t" % name)
            expected.append({"kind": kind, "count": u["count"],
                             "name": u["name"]})
        elif kind == "hash_search":
            e = e621[arc.kz.draw(rng, len(e621))]
            lines.append("op\thash_search\te621\t%s\t%s" % (e["id"], e["md5"]))
            expected.append({"kind": kind, "id": e["id"],
                             "count": e["count"]})
        else:
            scan += 60
            ents = arc.pick(arc.e621, WRITE_ROWS)
            rel = "writes/w%04d.csv" % writes
            write_csv(os.path.join(out, rel), arc.e621_rows(ents, scan))
            writes += 1
            lines.append("op\twrite\te621\t%s\t%s" % (rel, ts(scan)))
            expected.append({"kind": kind, "acked": WRITE_ROWS})
    return lines, {"ops": expected}


def shingle_set(toks, w=3):
    """Distinct w-token shingles of a lowercase token list (the engine's
    near-duplicate unit; ``evaluate.shingles`` derives it from text)."""
    if len(toks) < w:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)}


def edit_into(rng, vocab, wz, toks, lo, hi, floor, cap):
    """Random token edits (substitute, drop or insert one token) of a
    copy of `toks`, each kept only while the shingle Jaccard with the
    original stays at or above `lo`, until it falls below `hi`. A short
    text may have no edit that lands in [lo, hi): after each 200 misses
    the window widens by 0.01, first down to `floor`, then up to `cap`.
    Returns (tokens, exact Jaccard)."""
    orig = shingle_set(toks)
    cur, j = list(toks), 1.0
    misses = 0
    while j >= hi:
        cand = list(cur)
        i = rng.randrange(len(cand))
        kind = rng.random()
        if kind < 0.5:
            cand[i] = vocab[wz.draw(rng)]
        elif kind < 0.75 and len(cand) > 10:
            del cand[i]
        else:
            cand.insert(i, vocab[wz.draw(rng)])
        a = shingle_set(cand)
        inter = len(orig & a)
        cj = inter / (len(orig) + len(a) - inter)
        if cj >= lo:
            cur, j = cand, cj
            continue
        misses += 1
        if misses % 200 == 0:
            if lo > floor:
                lo = max(floor, lo - 0.01)
            elif hi < cap:
                hi = min(cap, hi + 0.01)
            else:
                raise ValueError("no edit reaches Jaccard [%g, %g)" % (lo, hi))
    return cur, j


def repost_format(rng, toks):
    """The tokens under other formatting: case and inner whitespace
    change, which the engine's tokenizer must normalise away."""
    parts = [t.upper() if rng.random() < 0.2 else
             t.title() if rng.random() < 0.2 else t for t in toks]
    seps = [rng.choice([" ", "  ", "\t", " \t "]) for _ in parts[1:]]
    body = parts[0] + "".join(s + p for s, p in zip(seps, parts[1:]))
    return " " + body + "  "


def gen_analytics(rng, out):
    vocab = vocabulary(rng, 3000)
    wz = Zipf(len(vocab), 1.0)
    n_plant = int(round(DOCS * REPOST_RATE))
    n_near = int(round(DOCS * NEAR_MISS_RATE))
    n_orig = DOCS - n_plant - n_near
    toks = [words(rng, vocab, wz, 30, 80) for _ in range(n_orig)]
    docs = [" ".join(t) for t in toks]
    originals = rng.sample(range(n_orig), n_plant + n_near)
    pairs, near = [], []
    for n, o in enumerate(originals):
        # reposts: exact Jaccard spread over [0.8, 1); near-misses
        # just below the 0.8 threshold
        if n < n_plant:
            lo = rng.uniform(REPOST_J_LO, 0.97)
            hi, into = lo + 0.02, pairs
        else:
            lo = rng.uniform(NEAR_MISS_J_LO, 0.78)
            hi, into = 0.8, near
        edited, j = edit_into(rng, vocab, wz, toks[o], lo, hi,
                              *((REPOST_J_LO, 1.0) if into is pairs else
                                (NEAR_MISS_J_LO, REPOST_J_LO)))
        docs.append(repost_format(rng, edited))
        into.append([o + 1, len(docs), round(j, 6)])  # doc ids are 1-based
    with open(os.path.join(out, "docs.jsonl"), "w") as f:
        for i, text in enumerate(docs):
            f.write(json.dumps({"doc_id": i + 1, "text": text}) + "\n")
    # submission snapshots (left) and uploader snapshots (right): one
    # hot uploader owns HOT_SHARE of the submission snapshots
    horizon = 400 * 86400
    left = []
    sid = 0
    hot = set(rng.sample(range(1, DOCS + 1), int(round(DOCS * HOT_SHARE))))
    for d in range(1, DOCS + 1):
        up = 0 if d in hot else rng.randint(1, UPLOADERS - 1)
        for _ in range(SCANS_PER_DOC):
            sid += 1
            left.append((sid, d, up, rng.randint(0, horizon)))
    right = []
    usid = 0
    for up in range(UPLOADERS):
        for _ in range(USER_SNAPS * (10 if up == 0 else 1)):
            usid += 1
            # a few exact time ties exercise the tie-break column
            t = rng.randint(0, horizon // 3600) * 3600
            right.append((usid, up, t, "name%d_%d" % (up, usid)))
    with open(os.path.join(out, "submission_scans.csv"), "w") as f:
        f.write("snapshot_id,doc_id,uploader,scan_time\n")
        for r in left:
            f.write("%d,%d,%d,%d\n" % r)
    with open(os.path.join(out, "uploader_snapshots.csv"), "w") as f:
        f.write("user_snapshot_id,uploader,user_scan_time,display_name\n")
        for r in right:
            f.write("%d,%d,%d,%s\n" % r)
    by_up = {}
    for usid_, up, t, _ in right:
        by_up.setdefault(up, []).append((t, usid_))
    sample = sorted(rng.sample(range(len(left)), ASOF_SAMPLE))
    asof = {}
    for i in sample:
        snap, _, up, t = left[i]
        prior = [r for r in by_up.get(up, []) if r[0] <= t]
        asof[str(snap)] = max(prior)[1] if prior else None
    lines = ["docs\tdocs.jsonl", "left\tsubmission_scans.csv",
             "right\tuploader_snapshots.csv", "topk\t%d" % TOPK]
    return lines, {"repost_pairs": pairs, "near_misses": near, "docs": DOCS, "topk": TOPK,
                   "left_rows": len(left), "asof": asof}


GENERATORS = {"ingest_refresh": gen_ingest_refresh,
              "lookup_mix": gen_lookup_mix,
              "analytics": gen_analytics}


def generate(workload, seed, out):
    os.makedirs(out)
    rng = random.Random("%s:%d" % (workload, seed))
    lines, expected = GENERATORS[workload](rng, out)
    with open(os.path.join(out, "manifest.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

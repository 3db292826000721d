"""Seeded input generator for the permit-ETL benchmark.

`generate(workload, seed, out_dir)` writes the workload's input files and
returns the labels it planted, which the checker compares the program's
artifacts against. The same (workload, seed) always produces byte-identical
files: every random choice comes from one `random.Random` (and, for the
vectors, one numpy PCG64) seeded from the pair, and nothing reads the clock.

Each permit carries a planted label computed by a small model of the
pipeline's contract (explode, PIN padding, the eight validation rules, the
7-key dedupe), so a wrong label means the model and the program disagree
and the run is reported incorrect, never silently accepted.
"""

import json
import os
import random
import re
import zlib

import numpy as np

# Input sizes per workload, recorded in BENCHMARK.json and perfbench/README.md
# and printed with every run. Far below the reference's 600k-line backfill, so
# that one pass fits the run length.
SIZES = {
    "backfill_full": {"permits": 20000, "files": 8, "universe": 4000},
    "monthly_increment": {"months": 8, "permits_per_month": 1000, "universe": 4000},
    "corpus_dedup": {"docs": 4000, "embeddings": 4000, "dim": 32, "centers": 16, "queries": 32},
}

# ---- the permit contract (PermitPipeline + PermitColumns) --------------------

MSG_PIN = "PIN is not 14 digits"
MSG_ADDR = "Address > 40 characters"
MSG_PERMIT = "Missing permit_no"
MSG_DATE = "Missing issue_date"
MSG_AMOUNT = "Amount must be a whole number between 1 and 2,147,483,647"
MSG_DESC = "Work Description > 2000 characters"
MSG_APPL = "Applicant Name > 50 characters"
MSG_UNIV = "PIN is invalid"

ABBREVIATIONS = [
    ("ASSOCIATION", "ASSN"), ("COMPANY", "CO"), ("BUILDING", "BLDG"),
    ("FOUNDATION", "FNDN"), ("ILLINOIS", "IL"), ("STREET", "ST"),
    ("BOULEVARD", "BLVD"), ("AVENUE", "AVE"), ("APARTMENT", "APT"),
    ("APARTMENTS", "APTS"), ("MANAGEMENT", "MGMT"), ("CORPORATION", "CORP"),
    ("INCORPORATED", "INC"), ("LIMITED", "LTD"), ("PLAZA", "PLZ"),
]

STREETS = [
    "ASHLAND AVE", "HALSTED ST", "MAIN ST", "WESTERN AVE", "PULASKI RD",
    "CICERO AVE", "ARCHER AVE", "MILWAUKEE AVE", "LINCOLN AVE", "CLARK ST",
    "STATE ST", "DAMEN AVE", "KEDZIE AVE", "IRVING PARK RD", "BELMONT AVE",
    "FULLERTON AVE", "NORTH AVE", "CHICAGO AVE", "MADISON ST", "ROOSEVELT RD",
    "CERMAK RD", "GARFIELD BLVD", "STONY ISLAND AVE", "COTTAGE GROVE AVE",
    "KING DR", "HOMAN AVE", "CENTRAL AVE", "HARLEM AVE", "DEVON AVE", "FOSTER AVE",
]
COMPANIES = [
    "ACME BUILDING COMPANY", "LAKESIDE MANAGEMENT CORPORATION",
    "PRAIRIE ROOFING INCORPORATED", "NORTH SHORE APARTMENTS ASSOCIATION",
    "MIDWEST ELECTRIC LIMITED", "CITY PLAZA FOUNDATION", "JOHN SMITH",
    "MARIA GARCIA", "ILLINOIS SOLAR COMPANY", "WINDY CITY HVAC",
    "GREAT LAKES CONSTRUCTION", "BOULEVARD APARTMENT MANAGEMENT",
]
WORDS = [
    "Addition", "Elevator", "Window", "Construction", "Garage", "Roof",
    "Demolition", "HVAC", "Basement", "Alarm", "Fire", "Bathroom", "Solar",
    "New", "Attic", "Rehab", "Alteration", "Dormer", "Porch", "repair",
    "replace", "install", "interior", "exterior", "kitchen", "remodel",
    "electrical", "plumbing", "masonry", "tuckpoint", "deck", "fence",
    "#2 unit", "per plans & specs", "(scope revised)", "rear", "front",
]
LONG_WORDS = ["WESTERN", "CONTRACTORS", "GROUP", "HOLDINGS", "PARTNERS",
              "SERVICES", "REMODELING", "ENTERPRISES", "DEVELOPMENT"]

def fold(name):
    if name is None:
        return None
    for a, b in ABBREVIATIONS:
        name = name.replace(a, b)
    return name


def blank(v):
    return v is None or v.strip(" ") == ""


def lpad14(s):
    return s[:14] if len(s) >= 14 else "0" * (14 - len(s)) + s


def hyphenate(pin):
    return f"{pin[0:2]}-{pin[2:4]}-{pin[4:7]}-{pin[7:10]}-{pin[10:14]}"


def pin_final(solo):
    if solo is None:
        return ""
    s = solo.replace("-", "")
    return s + "0000" if len(s) == 10 else s


def rng_for(workload, seed):
    return random.Random(zlib.crc32(workload.encode()) * 1000003 + seed)


def make_universe(rng, n):
    """Distinct 14-digit PINs; a third are 10-digit parcels ending 0000 and
    a tenth start with 0. Several PINs share an address, as condo units do."""
    pins, seen = [], set()
    while len(pins) < n:
        kind = rng.random()
        if kind < 0.33:
            p = f"{rng.randrange(10, 34):02d}{rng.randrange(10**8):08d}0000"
        elif kind < 0.43:
            p = f"0{rng.randrange(1, 10)}{rng.randrange(10**8):08d}" + rng.choice(["0000", f"{rng.randrange(1, 10**4):04d}"])
        else:
            p = f"{rng.randrange(10, 34):02d}{rng.randrange(10**12):012d}"
        if p not in seen:
            seen.add(p)
            pins.append(p)
    addrs = []
    for _ in range(max(1, n // 3)):
        addrs.append(f"{rng.randrange(1, 12000)} {rng.choice('NSEW')} {rng.choice(STREETS)}")
    rows = [{"pin": p, "pin10": p[:10], "prop_address_full": rng.choice(addrs)} for p in pins]
    return rows, addrs


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":"), ensure_ascii=False))
            f.write("\n")


class PermitModel:
    """Generates raw Socrata permit lines and the rows the pipeline must
    produce from them."""

    def __init__(self, rng, universe, addrs):
        self.rng = rng
        self.universe = [u["pin"] for u in universe]
        self.u14 = {lpad14(p) for p in self.universe}
        self.pad_pins = [p for p in self.universe if p.endswith("0000")]
        self.addrs = addrs
        self.next_no = 100000000 + rng.randrange(10**7)

    def _outsider(self):
        while True:
            p = f"{self.rng.randrange(34, 99):02d}{self.rng.randrange(10**12):012d}"
            if lpad14(p) not in self.u14:
                return p

    def _pin_list(self):
        r, rng = self.rng.random(), self.rng
        if r < 0.05:
            return hyphenate(rng.choice(self.universe))
        if r < 0.09:
            return rng.choice(self.pad_pins)[:10]
        if r < 0.16:
            ps = rng.sample(self.universe, rng.randrange(2, 4))
            if rng.random() < 0.2:
                ps.append(ps[0])  # repeated PIN: array_distinct keeps one row
            return " | ".join(ps)
        if r < 0.17:
            return f"{rng.choice(self.universe)} | {rng.randrange(10**5)}"
        if r < 0.19:
            return rng.choice([f"{rng.randrange(10**11, 10**12)}", f"{rng.randrange(10**14, 10**15)}",
                               "N/A", f"{rng.randrange(10**3)}-{rng.randrange(10**3)}"])
        if r < 0.22:
            return self._outsider()
        if r < 0.23:
            return None
        if r < 0.235:
            return ""
        return rng.choice(self.universe)

    def raw(self, date_range, clean=False):
        """One raw permit line. `clean` forces every field valid and a single
        universe PIN (dedupe plants are drawn this way)."""
        rng = self.rng
        no = str(self.next_no)
        self.next_no += rng.randrange(1, 4)
        lo, hi = date_range
        day = rng.randrange(lo, hi)
        y, m, d = _civil(day)
        date = f"{y:04d}-{m:02d}-{d:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:00.000000"
        num, direc = str(rng.randrange(1, 12000)), rng.choice(["N", "S", "E", "W", None])
        name = rng.choice(STREETS)
        if rng.random() < 0.6:
            num, direc, name = self.rng.choice(self.addrs).split(" ", 2)
        cost = str(rng.randrange(100, 2000000)) + rng.choice(["", "", ".0"])
        appl = rng.choice(COMPANIES)
        desc = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 12)))
        pin_list = rng.choice(self.universe)
        if not clean:
            pin_list = self._pin_list()
            r = rng.random()
            if r < 0.005:
                no = ""
            r = rng.random()
            if r < 0.02:
                date = rng.choice(["not-a-date", "2023-13-01T00:00:00.000000",
                                   "2021-02-30T00:00:00.000000", ""])
            r = rng.random()
            if r < 0.02:
                cost = rng.choice(["0", "-5", "3000000000", "n/a", ""])
            r = rng.random()
            if r < 0.01:
                name = " ".join(rng.choice(LONG_WORDS) for _ in range(6))
            elif r < 0.013:
                num, direc, name = None, None, None
            r = rng.random()
            if r < 0.005:
                desc = ("new " + desc + " ") * (2100 // (len(desc) + 5) + 1)
            elif r < 0.008:
                desc = None
            r = rng.random()
            if r < 0.01:
                appl = " ".join(rng.choice(LONG_WORDS) for _ in range(7))
            elif r < 0.013:
                # 57 raw characters that fold to exactly 50: the rule sees
                # the abbreviated name
                appl = "X" * 45 + " CORPORATION"
            elif r < 0.016:
                appl = None
        rec = {"permit_": no, "issue_date": date, "street_number": num,
               "street_direction": direc, "street_name": name,
               "work_description": desc, "reported_cost": cost,
               "contact_1_name": appl, "pin_list": pin_list}
        return {k: v for k, v in rec.items() if v is not None}

    def rows(self, rec):
        """Rows the chain emits for one raw line, with their error lists."""
        pl = rec.get("pin_list")
        solos = [None] if pl is None else list(dict.fromkeys(pl.split(" | ")))
        addr = " ".join(rec.get(k) or "" for k in ("street_number", "street_direction", "street_name"))
        date = _render_mdy(rec.get("issue_date"))
        amount = _bround_long(rec.get("reported_cost"))
        appl = fold(rec.get("contact_1_name"))
        desc = rec.get("work_description")
        no = rec.get("permit_", None)
        out = []
        for solo in solos:
            pin = pin_final(solo)
            errs = []
            if blank(pin) or len(pin.replace("-", "")) != 14:
                errs.append(MSG_PIN)
            if blank(addr) or len(addr) > 40:
                errs.append(MSG_ADDR)
            if blank(no):
                errs.append(MSG_PERMIT)
            if date is None:
                errs.append(MSG_DATE)
            if amount is None or amount < 1 or amount > 2147483647:
                errs.append(MSG_AMOUNT)
            if blank(desc) or len(desc) > 2000:
                errs.append(MSG_DESC)
            if blank(appl) or len(appl) > 50:
                errs.append(MSG_APPL)
            if lpad14(pin.replace("-", "")) not in self.u14:
                errs.append(MSG_UNIV)
            out.append({"pin": pin, "permit_no": no, "issue_date": date, "amount": amount,
                        "applicant_street_address": addr, "applicant": appl,
                        "work_description": desc, "errors": errs})
        return out


def _civil(day):
    """days since 1970-01-01 -> (y, m, d), proleptic Gregorian."""
    z = day + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return (y + 1 if m <= 2 else y), m, d


def _days(y, m, d):
    y -= m <= 2
    era = y // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _valid_ymd(y, m, d):
    return 1 <= m <= 12 and 1 <= d <= 31 and _civil(_days(y, m, d)) == (y, m, d)


_ISO = re.compile(r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})\.(\d{6})")


def _render_mdy(iso):
    """parseIsoMicros + renderMDY: M/d/yyyy, None when unparseable."""
    m = _ISO.fullmatch(iso or "")
    if not m:
        return None
    y, mo, d = int(m[1]), int(m[2]), int(m[3])
    if not _valid_ymd(y, mo, d) or int(m[4]) > 23 or int(m[5]) > 59 or int(m[6]) > 59:
        return None
    return f"{mo}/{d}/{y}"


def _bround_long(s):
    """try_cast(double) -> bround -> long; None when not numeric."""
    if s is None or not re.fullmatch(r"\s*-?\d+(\.\d+)?\s*", s):
        return None
    return int(round(float(s)))




# the columns of an upload row, in the order the checker compares them
UPLOAD_COLS = ("pin", "permit_no", "issue_date", "amount",
               "applicant_street_address", "applicant", "work_description")


def _upload_row(row):
    """The upload-shaped row a previous extraction left in the warehouse."""
    return {k: row[k] for k in UPLOAD_COLS}


def _gen_pull(model, out_dir, n, files, date_range, held):
    """One pull of `n` lines. About 3% re-report a permit the warehouse
    already holds (`held`; the 7-key dedupe drops them) and 0.5% are clean
    permits returned as near-misses, for which the caller plants a warehouse
    row with one key changed (they must survive the dedupe)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = model.rng
    recs, kept, near, dups = [], [], [], 0
    for _ in range(n):
        r = rng.random()
        if r < 0.03 and held:
            recs.append(rng.choice(held))
            dups += 1
            continue
        rec = model.raw(date_range, clean=r < 0.035)
        rows = model.rows(rec)
        if r < 0.035:
            near.append(rows[0])
        recs.append(rec)
        kept.append((rec, rows))
    per = (len(recs) + files - 1) // files
    for i in range(files):
        write_jsonl(os.path.join(out_dir, f"part-{i:03d}.json"), recs[i * per:(i + 1) * per])
    rows = [r for _, rr in kept for r in rr]
    review = {}
    for r in rows:
        if r["errors"]:
            key = "; ".join(r["errors"])
            review[key] = review.get(key, 0) + 1
    upload = sorted(tuple(r[c] for c in UPLOAD_COLS) for r in rows if not r["errors"])
    exp = {"dir": os.path.basename(out_dir), "lines": len(recs), "deduped": dups,
           "upload": upload, "upload_rows": len(upload),
           "review": review, "review_rows": sum(review.values())}
    # what this pull leaves in the warehouse, for the next pull to re-report
    uploaded = [rec for rec, rr in kept if len(rr) == 1 and not rr[0]["errors"]]
    return exp, uploaded, near


def gen_permits(workload, seed, out_dir, sizes):
    rng = rng_for(workload, seed)
    universe, addrs = make_universe(rng, sizes["universe"])
    write_jsonl(os.path.join(out_dir, "universe.json"), universe)
    model = PermitModel(rng, universe, addrs)
    # the prior upload: permits an earlier extraction already uploaded
    history = (_days(2010, 1, 1), _days(2016, 1, 1))
    prior_recs = [model.raw(history, clean=True) for _ in range(600)]
    prior = [_upload_row(model.rows(r)[0]) for r in prior_recs]
    if workload == "backfill_full":
        pulls = [("pull", sizes["permits"], sizes["files"], (_days(1990, 1, 1), _days(2025, 1, 1)))]
    else:
        pulls = [(f"month-{k:02d}", sizes["permits_per_month"], 1,
                  (_days(2023 + k // 12, k % 12 + 1, 1), _days(2023 + (k + 1) // 12, (k + 1) % 12 + 1, 1)))
                 for k in range(sizes["months"])]
    ops, held = [], prior_recs
    for k, (name, n, files, drange) in enumerate(pulls):
        exp, held, near = _gen_pull(model, os.path.join(out_dir, name), n, files, drange, held)
        if k == 0:
            # only the first pull dedupes against the static prior upload;
            # later months dedupe against the previous month's artifacts
            prior += [dict(_upload_row(r), amount=r["amount"] + 1) for r in near]
        ops.append(exp)
    write_jsonl(os.path.join(out_dir, "prior_upload.json"), prior)
    return {"universe_rows": len(universe), "prior_rows": len(prior), "ops": ops,
            "lines": sum(o["lines"] for o in ops)}


# ---- corpus with planted near-duplicate clusters (ext.Dedup, ext.Similarity) --

TAU = 0.7


def shingles(text, n=3):
    """Dedup.shingled: distinct word n-grams of the whitespace split."""
    words = text.strip().split()
    count = max(len(words) - (n - 1), 1)
    return {" ".join(words[i:i + n]) for i in range(count)}


def jaccard(a, b):
    u = len(a | b)
    return len(a & b) / u if u else 0.0


def gen_corpus(seed, out_dir, sizes):
    rng = rng_for("corpus_dedup", seed)
    nprng = np.random.default_rng(rng.randrange(2**63))
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randrange(3, 10))) for _ in range(8000)})
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()

    def words(k):
        return [vocab[i] for i in nprng.choice(len(vocab), size=k, p=weights)]

    def edited(base, edits):
        out = list(base)
        for _ in range(edits):
            kind, pos = rng.random(), rng.randrange(len(out))
            if kind < 0.5:
                out[pos] = vocab[rng.randrange(len(vocab))]
            elif kind < 0.8:
                out.insert(pos, vocab[rng.randrange(len(vocab))])
            elif len(out) > 10:
                del out[pos]
        return out

    docs, clusters = [], []
    while len(docs) < sizes["docs"]:
        base = words(rng.randrange(30, 80))
        r = rng.random()
        if r < 0.12:
            members = [len(docs)]
            docs.append(base)
            for _ in range(rng.randrange(1, 5)):
                members.append(len(docs))
                docs.append(edited(base, rng.randrange(1, 4)))
            clusters.append(members)
        elif r < 0.16:
            # near-miss: shares its first half with the base only, so it can
            # collide in a band but fails the exact Jaccard verify
            docs.append(base)
            docs.append(base[:len(base) // 2] + words(len(base) - len(base) // 2))
        else:
            docs.append(base)
    docs = docs[:sizes["docs"]]
    order = list(range(len(docs)))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    texts = [None] * len(docs)
    for old, ws in enumerate(docs):
        texts[doc_id[old]] = " ".join(ws)
    planted = []
    grams = {}
    for members in clusters:
        ids = sorted(doc_id[m] for m in members if m < len(docs))
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ga = grams.setdefault(a, shingles(texts[a]))
                gb = grams.setdefault(b, shingles(texts[b]))
                if jaccard(ga, gb) >= TAU:
                    planted.append((a, b))
    doc_dir = os.path.join(out_dir, "docs")
    os.makedirs(doc_dir)
    per = (len(texts) + 7) // 8
    for i in range(8):
        write_jsonl(os.path.join(doc_dir, f"part-{i:03d}.json"),
                    ({"doc_id": j, "text": texts[j]} for j in range(i * per, min(len(texts), (i + 1) * per))))
    n, dim = sizes["embeddings"], sizes["dim"]
    centers = nprng.normal(0.0, 1.0, (sizes["centers"], dim))
    vecs = centers[nprng.integers(0, sizes["centers"], n)] + nprng.normal(0.0, 0.35, (n, dim))
    text_vecs = [[f"{x:.4f}" for x in row] for row in vecs]
    emb_dir = os.path.join(out_dir, "embeddings")
    os.makedirs(emb_dir)
    per = (n + 3) // 4
    for i in range(4):
        with open(os.path.join(emb_dir, f"part-{i:03d}.json"), "w", encoding="utf-8", newline="\n") as f:
            for j in range(i * per, min(n, (i + 1) * per)):
                f.write(f'{{"vec_id":{j},"embedding":[{",".join(text_vecs[j])}]}}\n')
    # the quantized vectors exactly as Similarity.quantize sees them: float32
    # parse, widen to double, floor(x * 1000 + 0.5)
    f32 = np.array(text_vecs, dtype=np.float32)
    quantized = np.floor(f32.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    step = n // sizes["queries"]
    query_ids = [q * step for q in range(sizes["queries"])]
    with open(os.path.join(out_dir, "query_ids.json"), "w") as f:
        json.dump(query_ids, f)
    return {"lines": len(texts) + n, "docs": len(texts), "texts": texts,
            "planted_pairs": planted, "clusters": len(clusters),
            "quantized": quantized, "query_ids": query_ids,
            "ops": [{"dir": "corpus"}]}


def generate(workload, seed, out_dir):
    """Write `workload`'s inputs for `seed` under `out_dir`; return the
    planted labels."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = SIZES[workload]
    if workload in ("backfill_full", "monthly_increment"):
        exp = gen_permits(workload, seed, out_dir, sizes)
    else:
        exp = gen_corpus(seed, out_dir, sizes)
    exp["sizes"] = sizes
    return exp

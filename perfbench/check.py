"""Output checker: every op's artifacts against the generator's planted
labels. `check_op` returns a list of problems (empty = correct) plus the
values a traced run reports (pair counts, recall, artifact sizes).

Also `mutate`, which damages one op's artifacts on purpose; the benchmark's
self-test uses it to prove the checker catches a wrong output.
"""

import collections
import glob
import os
import re
import zipfile
import xml.etree.ElementTree as ET

import numpy as np
import pyarrow.parquet as pq

import gen

# floors the corpus workload must meet on every op
PLANTED_RECALL_FLOOR = 0.9
TOPK_RECALL_FLOOR = 0.8
BATCH = 250

_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_MAIN = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_DOC_REL = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_TEXT = re.compile(r"<t[^>]*>(.*?)</t>", re.S)


def _unesc(s):
    return (s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", '"')
            .replace("&apos;", "'").replace("&amp;", "&"))


def read_sheets(path):
    """{sheet name: worksheet XML}. The benchmark reads the program's
    workbooks itself, so a bug in the program's xlsx codec cannot hide on
    both ends of a round trip."""
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        target = {r.get("Id"): r.get("Target") for r in rels.iter(f"{_PKG_REL}Relationship")}
        return {sh.get("name"): z.read("xl/" + target[sh.get(f"{_DOC_REL}id")]).decode("utf-8")
                for sh in wb.iter(f"{_MAIN}sheet")}


def first_column(xml):
    """The inline-string text of column A in every row, header first; None
    for a blank cell (the program writes every string cell inline)."""
    rows = re.findall(r"<row [^>]*>(.*?)</row>", xml, re.S)
    out = []
    for r in rows:
        m = re.match(r'<c r="A\d+"[^>]*?(?:/>|>(.*?)</c>)', r, re.S)
        out.append(_unesc("".join(_TEXT.findall(m.group(1)))) if m and m.group(1) else None)
    return out


def _parquet_files(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _read(d, columns):
    if not _parquet_files(d):
        return {c: [] for c in columns}
    t = pq.read_table(d, columns=columns)
    return {c: t.column(c).to_pylist() for c in columns}


def _check_batches(d, problems):
    files = _parquet_files(d)
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        problems.append(f"{d}: no _SUCCESS marker")
    for f in files:
        n = pq.ParquetFile(f).metadata.num_rows
        if n > BATCH:
            problems.append(f"{os.path.basename(f)}: {n} rows in one batch (max {BATCH})")
    return len(files)


def _check_upload_set(cols, expected, problems, what):
    got = sorted(zip(*(cols[c] for c in gen.UPLOAD_COLS)))
    want = list(expected)
    if got != want:
        missing = collections.Counter(want) - collections.Counter(got)
        extra = collections.Counter(got) - collections.Counter(want)
        problems.append(f"{what}: {len(got)} rows, want {len(want)}; "
                        f"missing {list(missing)[:3]} extra {list(extra)[:3]}")


def check_permit_op(exp, op_exp, d):
    problems, info = [], {}
    up = os.path.join(d, "upload")
    info["files_written"] = _check_batches(up, problems)
    files = _parquet_files(up)
    if files and "errors" in pq.read_schema(files[0]).names:
        problems.append("upload rows carry an errors column")
    _check_upload_set(_read(up, list(gen.UPLOAD_COLS)), op_exp["upload"], problems, "upload")
    with zipfile.ZipFile(os.path.join(d, "upload.zip")) as z:
        entries = {i.filename: i.file_size for i in z.infolist()}
    on_disk = {f: os.path.getsize(os.path.join(up, f)) for f in os.listdir(up)}
    if entries != on_disk:
        problems.append("upload.zip entries differ from the upload directory")
    wb_path = os.path.join(d, "review.xlsx")
    info["xlsx_bytes"] = os.path.getsize(wb_path)
    sheets = read_sheets(wb_path)
    errors = first_column(sheets.get("Permits", ""))
    if not errors or errors[0] != "errors":
        problems.append("Permits sheet missing or errors is not its first column")
    else:
        got, want = collections.Counter(errors[1:]), collections.Counter(op_exp["review"])
        if got != want:
            problems.append(f"review sheet: {len(errors) - 1} rows, want {op_exp['review_rows']}; "
                            f"error mix differs on {dict(list(((got - want) + (want - got)).items())[:3])}")
    uni = sheets.get("Universe of Valid PINs", "").count("<row ")
    if uni - 1 != exp["universe_rows"]:
        problems.append(f"universe sheet: {uni - 1} rows, want {exp['universe_rows']}")
    return problems, info


def _components(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def brute_topk(exp, k):
    """Exact cosine of every query against the corpus over the quantized
    vectors, and its top-k with ties to the smaller id and the query itself
    excluded (Similarity.bruteForceTopK's contract)."""
    v = exp["quantized"]
    q = v[exp["query_ids"]]
    dots = (q @ v.T).astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1).astype(np.float64))
    sims = dots / (norms[exp["query_ids"]][:, None] * norms[None, :])
    top = {}
    for i, qid in enumerate(exp["query_ids"]):
        s = sims[i].copy()
        s[qid] = -np.inf
        top[qid] = [int(j) for j in np.lexsort((np.arange(len(s)), -s))[:k]]
    return {"k": k, "top": top, "sims": sims, "row": {qid: i for i, qid in enumerate(exp["query_ids"])}}


def check_corpus_op(exp, op_exp, d, brute):
    problems, info = [], {}
    texts = exp["texts"]
    pairs = _read(os.path.join(d, "pairs"), ["id_lo", "id_hi", "jac_raw"])
    plist = list(zip(pairs["id_lo"], pairs["id_hi"]))
    info["verified_pairs"] = len(plist)
    if len(set(plist)) != len(plist):
        problems.append("duplicate verified pairs")
    grams = {}
    bad = 0
    for (a, b), j in zip(plist, pairs["jac_raw"]):
        ga = grams.setdefault(a, gen.shingles(texts[a]))
        gb = grams.setdefault(b, gen.shingles(texts[b]))
        exact = gen.jaccard(ga, gb)
        if not (a < b and exact >= gen.TAU and abs(exact - j) < 1e-9):
            bad += 1
    if bad:
        problems.append(f"{bad} reported pairs fail the exact Jaccard >= {gen.TAU} check")
    lab = _read(os.path.join(d, "labels"), ["doc_id", "canonical_id"])
    labels = dict(zip(lab["doc_id"], lab["canonical_id"]))
    if labels != _components(plist):
        problems.append("component labels are not the connected components of the pairs")
    surv = _read(os.path.join(d, "survivors"), ["doc_id", "cluster_id", "len"])
    best = {}
    for i, t in enumerate(texts):
        c = labels.get(i, i)
        if c not in best or len(t) > best[c][0] or (len(t) == best[c][0] and i < best[c][1]):
            best[c] = (len(t), i)
    got = {c: (ln, i) for i, c, ln in zip(surv["doc_id"], surv["cluster_id"], surv["len"])}
    if len(surv["doc_id"]) != len(best) or got != best:
        problems.append(f"{len(surv['doc_id'])} survivors, want one per component ({len(best)}), "
                        "each the longest member")
    planted = exp["planted_pairs"]
    found = sum(1 for a, b in planted if labels.get(a, a) == labels.get(b, b))
    info["planted_recall"] = found / len(planted) if planted else 1.0
    if info["planted_recall"] < PLANTED_RECALL_FLOOR:
        problems.append(f"planted-cluster recall {info['planted_recall']:.3f} < {PLANTED_RECALL_FLOOR}")
    top = _read(os.path.join(d, "topk"), ["query_id", "cand_id", "rank", "sim"])
    by_q = collections.defaultdict(list)
    for q, c, r, s in zip(top["query_id"], top["cand_id"], top["rank"], top["sim"]):
        by_q[q].append((r, c, s))
    recalls = []
    for q in exp["query_ids"]:
        rows = sorted(by_q.get(q, []))
        if [r for r, _, _ in rows] != list(range(1, len(rows) + 1)) or len(rows) > brute["k"]:
            problems.append(f"query {q}: ranks are not 1..n")
            break
        sims = [s for _, _, s in rows]
        if sims != sorted(sims, reverse=True):
            problems.append(f"query {q}: similarities not in rank order")
            break
        recalls.append(len(set(brute["top"][q]) & {c for _, c, _ in rows}) / brute["k"])
        for _, c, s in rows:
            e = brute["sims"][brute["row"][q], c]
            if abs(round(e, 6) - s) > 1e-6:
                problems.append(f"query {q}: cand {c} sim {s} != exact {e:.6f}")
                break
    info["topk_recall"] = float(np.mean(recalls)) if recalls else 0.0
    if info["topk_recall"] < TOPK_RECALL_FLOOR:
        problems.append(f"top-k recall {info['topk_recall']:.3f} < {TOPK_RECALL_FLOOR}")
    return problems, info


def prepare(workload, exp, k):
    """Per-run reference data the op checks share (the brute-force top-k)."""
    return brute_topk(exp, k) if workload == "corpus_dedup" else None


def check_op(workload, exp, k, d, ref):
    if workload in ("backfill_full", "monthly_increment"):
        return check_permit_op(exp, exp["ops"][k], d)
    return check_corpus_op(exp, exp["ops"][0], d, ref)


def mutate(workload, d):
    """Damage one op's artifacts the way a subtle bug would: one review row
    (or one dedup survivor) goes missing."""
    if workload in ("backfill_full", "monthly_increment"):
        path = os.path.join(d, "review.xlsx")
        with zipfile.ZipFile(path) as z:
            parts = {n: z.read(n) for n in z.namelist()}
        body = parts["xl/worksheets/sheet1.xml"].decode()
        cut = body.rindex("<row ")
        parts["xl/worksheets/sheet1.xml"] = (body[:cut] + body[body.index("</row>", cut) + 6:]).encode()
        with zipfile.ZipFile(path, "w") as z:
            for n, b in parts.items():
                z.writestr(n, b)
    else:
        f = next(f for f in _parquet_files(os.path.join(d, "survivors")) if pq.ParquetFile(f).metadata.num_rows > 0)
        t = pq.read_table(f)
        pq.write_table(t.slice(0, t.num_rows - 1), f)

"""Seeded input generator for the benchmark's three input families
(`scheduled_day` uses the linkage batch and the QA days).

Every input is a pure function of (seed, scale): the same pair writes
byte-identical files, and a different seed writes the same row counts.
Ground truth goes to a `truth/` sidecar next to the inputs; the program
under test is only ever handed the input files, never the sidecar.

  linkage_batch  template submissions CSV + parquet WDRS case universe;
                 truth = each submission's true CASE_ID and its kind
  corpus_search  clustered unit-norm corpus + query batches (parquet);
                 truth = exact cosine top-k per query (numpy)
  qa_daily       one full destination export per simulated day
                 (parquet, constant size); truth = that day's added,
                 removed and changed counts
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
_SYL = ["BA", "KO", "RI", "TE", "MU", "SAN", "DOR", "LI", "VE", "NA",
        "GRO", "PEL", "TAM", "QUI", "ZOR", "FE", "HAL", "NOV", "WIK", "JU"]
_ALPHA = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def _names(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    k = rng.integers(lo, hi + 1, size=n)
    picks = rng.integers(0, len(_SYL), size=(n, hi))
    return ["".join(_SYL[j] for j in picks[i, :k[i]]) for i in range(n)]


def _typo(rng: np.random.Generator, s: str, d: int) -> str:
    """`s` with `d` letter substitutions at distinct positions."""
    chars = list(s)
    for p in rng.choice(len(chars), size=d, replace=False):
        alt = [c for c in _ALPHA[rng.permutation(26)[:2]] if c != chars[p]]
        chars[p] = alt[0]
    return "".join(chars)


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_json(obj, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


# ----------------------------------------------------------------------
# linkage_batch
# ----------------------------------------------------------------------

#: submission kinds and their shares of the batch
LINKAGE_MIX = (
    ("accession", 0.46),   # accession equi-join hit -> roster
    ("fuzzy", 0.26),       # unknown accession, name typo d in 0..3
    ("flipped", 0.05),     # unknown accession, first/last swapped
    ("no_demo", 0.07),     # unknown accession, DOB missing -> keep_na
    ("qa_fail", 0.06),     # unrecognised status -> for_review
    ("nonmatch", 0.07),    # person not in the universe
    ("twin", 0.03),        # not in the universe, but one letter away from
                           # a case with the same DOB: a fuzzy false link
)
_STATUSES = ["COMPLETE", "COMPLETE", "COMPLETE", "LOW QUALITY", "FAILED"]
_LABS = ["UW Virology", "Altius", "Fred Hutch", "WA PHL", "Quest", "LabCorp"]


def _fmt_date(d: dt.date, style: int) -> str:
    if style == 0:
        return f"{d.month}/{d.day}/{d.year}"
    if style == 1:
        return d.isoformat()
    return str((d - dt.date(1899, 12, 30)).days)   # Excel serial


def linkage_sizes(scale: float) -> tuple[int, int]:
    """(submissions, universe cases) at `scale`."""
    return max(200, int(4000 * scale)), max(1000, int(20000 * scale))


def gen_linkage(out: str, seed: int, scale: float = 1.0) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_sub, n_uni = linkage_sizes(scale)
    first = _names(rng, n_uni, 2, 3)
    last = _names(rng, n_uni, 2, 4)
    dob = rng.integers((dt.date(1940, 1, 1) - EPOCH).days,
                       (dt.date(2015, 12, 31) - EPOCH).days, size=n_uni)
    event = rng.integers((dt.date(2021, 1, 1) - EPOCH).days,
                         (dt.date(2022, 12, 31) - EPOCH).days, size=n_uni)
    case_id = [str(100000000 + i) for i in range(n_uni)]
    acc = [f"A{70000000 + i}" for i in range(n_uni)]
    _write_parquet(pa.table({
        "CASE_ID": case_id, "FIRST_NAME": first, "LAST_NAME": last,
        "dob_date": pa.array(dob.astype("int32"), pa.date32()),
        "event_date": pa.array(event.astype("int32"), pa.date32()),
        "FILLER__ORDER__NUM": acc,
    }), os.path.join(out, "wdrs", "universe.parquet"))

    counts = [int(round(share * n_sub)) for _, share in LINKAGE_MIX]
    counts[0] += n_sub - sum(counts)
    kinds = np.repeat([k for k, _ in LINKAGE_MIX], counts)
    kinds = kinds[rng.permutation(n_sub)]
    who = rng.choice(n_uni, size=n_sub, replace=False)
    dists = rng.integers(0, 4, size=n_sub)
    styles = rng.integers(0, 3, size=(n_sub, 2))
    shift = rng.integers(-10, 11, size=n_sub)
    stranger_first = _names(rng, n_sub, 4, 4)
    truth, rows = {}, []
    for i in range(n_sub):
        kind, c = str(kinds[i]), int(who[i])
        sid = f"S{500000 + i}"
        fn, ln, case = first[c], last[c], case_id[c]
        lab_acc = f"L{30000000 + i}"
        status = _STATUSES[i % len(_STATUSES)]
        birth = EPOCH + dt.timedelta(days=int(dob[c]))
        if kind == "accession":
            lab_acc = acc[c]
        elif kind == "fuzzy":
            name = _typo(rng, fn + ln, int(dists[i]))
            fn, ln = name[:len(fn)], name[len(fn):]
        elif kind == "flipped":
            fn, ln = ln, fn
        elif kind == "qa_fail":
            status = "SENT OUT"
        elif kind == "nonmatch":
            fn, case = stranger_first[i], None
        elif kind == "twin":
            fn, case = _typo(rng, fn, 1), None
        collected = EPOCH + dt.timedelta(days=int(event[c] + shift[i]))
        truth[sid] = {"case": case, "kind": kind,
                      "dist": int(dists[i]) if kind == "fuzzy" else 0}
        rows.append([
            lab_acc, f"hCoV-19/USA/WA-{sid}/2021",
            _fmt_date(collected, int(styles[i, 0])), _LABS[i % len(_LABS)],
            "SURVEILLANCE", status,
            "BA.2" if status == "COMPLETE" else "Unassigned",
            fn, ln, "NA",
            # DOBs predate the Excel-serial window, so they use the two
            # textual styles only
            "" if kind == "no_demo" else _fmt_date(birth, int(styles[i, 1]) % 2),
            sid])
    os.makedirs(os.path.join(out, "submissions"), exist_ok=True)
    with open(os.path.join(out, "submissions", "batch.csv"), "w",
              newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["LAB_ACCESSION_ID", "GISAID_ID",
                    "SPECIMEN_COLLECTION_DATE", "SUBMITTING_LAB",
                    "SEQUENCE_REASON", "SEQUENCE_STATUS", "PANGO_LINEAGE",
                    "FIRST_NAME", "LAST_NAME", "MIDDLE_NAME", "DOB",
                    "ALTERNATIVE_ID"])
        w.writerows(rows)
    _write_json(truth, os.path.join(out, "truth", "linkage.json"))
    return {"submissions": n_sub, "universe": n_uni}


# ----------------------------------------------------------------------
# corpus_search
# ----------------------------------------------------------------------

CORPUS_DIM = 32
CORPUS_K = 5
QUERY_BATCH = 25


def corpus_sizes(scale: float) -> tuple[int, int]:
    """(corpus vectors, query batches) at `scale`."""
    return max(500, int(4000 * scale)), max(12, int(100 * scale))


def _clustered(rng: np.random.Generator, centers: np.ndarray,
               n: int) -> np.ndarray:
    pick = rng.integers(0, len(centers), size=n)
    v = centers[pick] + 0.35 * rng.standard_normal((n, centers.shape[1]))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).round(6)


def gen_corpus(out: str, seed: int, scale: float = 1.0) -> dict:
    rng = np.random.default_rng([seed, 2])
    n, n_batches = corpus_sizes(scale)
    centers = rng.standard_normal((24, CORPUS_DIM))
    corpus = _clustered(rng, centers, n)
    queries = _clustered(rng, centers, n_batches * QUERY_BATCH)
    ids = rng.permutation(n).astype("int64") + 1
    vec_t = pa.list_(pa.float64())
    _write_parquet(pa.table({
        "vec_id": ids, "embedding": pa.array(corpus.tolist(), vec_t)}),
        os.path.join(out, "corpus", "corpus.parquet"))
    qids = np.arange(len(queries), dtype="int64") + 1_000_000_000
    _write_parquet(pa.table({
        "batch": np.repeat(np.arange(n_batches, dtype="int32"), QUERY_BATCH),
        "vec_id": qids, "embedding": pa.array(queries.tolist(), vec_t)}),
        os.path.join(out, "queries", "queries.parquet"))
    sims = queries @ corpus.T
    # exact top-k by cosine (vectors are unit norm), ties -> lower id:
    # a partial sort keeps a few spare candidates, then an exact sort
    keep = np.argpartition(-sims, CORPUS_K + 8, axis=1)[:, :CORPUS_K + 8]
    ksims = np.take_along_axis(sims, keep, axis=1)
    order = np.lexsort((ids[keep], -ksims), axis=1)
    top = np.take_along_axis(ids[keep], order, axis=1)[:, :CORPUS_K]
    _write_json({str(int(q)): [int(x) for x in t] for q, t in zip(qids, top)},
                os.path.join(out, "truth", "corpus_topk.json"))
    return {"corpus": n, "batches": n_batches}


# ----------------------------------------------------------------------
# qa_daily
# ----------------------------------------------------------------------

QA_VARYING = ("CASE_ID", "SEQUENCE_VARIANT")


def qa_sizes(scale: float) -> tuple[int, int, int]:
    """(export rows, adds == removes per day, changes per day)."""
    n = max(2000, int(10000 * scale))
    return n, n // 50, n // 100


def _obj(values) -> np.ndarray:
    return np.array(list(values), dtype=object)


class QaDays:
    """The destination export, evolved one simulated day at a time.

    Day 0 is the initial export; each later day removes `r` rows, adds
    `r` new ones (constant table size) and changes `c` surviving rows in
    one of the QA_VARYING columns. Every row has its own accession
    (SA), so the day's counts are known exactly: the symmetric diff has
    r + c rows on each side and classify_changes pairs exactly c."""

    _LINEAGES = ["BA.1", "BA.2", "BA.5", "XBB.1.5", "JN.1", "EG.5"]

    def __init__(self, seed: int, scale: float = 1.0):
        self.rng = np.random.default_rng([seed, 3])
        self.n, self.r, self.c = qa_sizes(scale)
        self.day = -1
        self.next_uid = 0
        self.cols: dict[str, np.ndarray] = {}

    def _new_rows(self, m: int) -> dict[str, np.ndarray]:
        rng, uid = self.rng, np.arange(self.next_uid, self.next_uid + m)
        self.next_uid += m
        # 1 in 12 new rows reuses a recent clinical accession, so the
        # triage sees in-batch SCA duplicates
        sca_uid = np.where(rng.random(m) < 1 / 12,
                           np.maximum(uid - rng.integers(1, 40, m), 0), uid)
        start = (dt.date(2021, 1, 1) - EPOCH).days
        case = 100000000 + rng.integers(0, self.n, m)
        lab = rng.integers(0, len(_LABS), m)
        lin = rng.integers(0, len(self._LINEAGES), m)
        # object arrays: numpy's fixed-width strings would silently
        # truncate the longer values a later day's change writes
        return {
            "CASE_ID": _obj(str(x) for x in case),
            "SEQUENCE_CLINICAL_ACCESSION": _obj(f"SCA-{x}" for x in sca_uid),
            "SEQUENCE_ACCESSION": _obj(f"USA/WA-{x}/2021" for x in uid),
            "SEQUENCE_LAB": _obj(_LABS[x] for x in lab),
            "SEQUENCE_VARIANT": _obj(self._LINEAGES[x] for x in lin),
            "collection_date": rng.integers(start, start + 180, m).astype("int32"),
            "QA_COLLECT_DATE": rng.integers(0, 2, m).astype("int32"),
        }

    def next_day(self) -> dict:
        """Advance one day; returns the day's known counts."""
        self.day += 1
        if self.day == 0:
            self.cols = self._new_rows(self.n)
            return {"day": 0, "added": self.n, "removed": 0, "changed": 0}
        rng = self.rng
        perm = rng.permutation(self.n)
        keep = np.sort(perm[self.r:])
        cols = {k: v[keep] for k, v in self.cols.items()}
        ch = rng.choice(len(keep), size=self.c, replace=False)
        half = self.c // 2
        cid = cols["CASE_ID"].copy()
        cid[ch[:half]] = _obj(str(200000000 + self.day * self.n + i)
                              for i in range(half))
        var = cols["SEQUENCE_VARIANT"].copy()
        var[ch[half:]] = _obj(v + ".1" for v in var[ch[half:]])
        cols["CASE_ID"], cols["SEQUENCE_VARIANT"] = cid, var
        new = self._new_rows(self.r)
        self.cols = {k: np.concatenate([cols[k], new[k]]) for k in cols}
        return {"day": self.day, "added": self.r, "removed": self.r,
                "changed": self.c}

    def write(self, path: str) -> None:
        c = self.cols
        _write_parquet(pa.table({
            "CASE_ID": c["CASE_ID"].tolist(),
            "SEQUENCE_CLINICAL_ACCESSION": c["SEQUENCE_CLINICAL_ACCESSION"].tolist(),
            "SEQUENCE_ACCESSION": c["SEQUENCE_ACCESSION"].tolist(),
            "SEQUENCE_LAB": c["SEQUENCE_LAB"].tolist(),
            "SEQUENCE_VARIANT": c["SEQUENCE_VARIANT"].tolist(),
            "collection_date": pa.array(c["collection_date"], pa.date32()),
            "QA_COLLECT_DATE": pa.array(c["QA_COLLECT_DATE"], pa.int32()),
        }), path)


def gen_qa_day(days: QaDays, out: str) -> dict:
    """Write the next day's export to out/exports/day=<n>.parquet and
    its known counts to the truth sidecar; returns the counts."""
    counts = days.next_day()
    days.write(os.path.join(out, "exports", f"day={days.day}.parquet"))
    _write_json(counts, os.path.join(out, "truth", f"qa_day={days.day}.json"))
    return counts

"""Property-based tests (hypothesis): the reference's runtime
conservation checks (SURVEY §5.1) as properties over generated inputs.

Each example builds a small DataFrame and asserts an invariant the
pipelines rely on: date parsing recovers any supported rendering, name
normalization is idempotent, band routing partitions the probe set,
chunking is exact. Example counts are kept small — each example is a
Spark job."""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sequencing_integration_pipeline1_0_spark.functions import cleaning, dates
from sequencing_integration_pipeline1_0_spark.operators import fuzzy
from sequencing_integration_pipeline1_0_spark.sources import sinks

SLOW = settings(max_examples=6, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

DATES = st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2099, 12, 28))


def round6_half_up(x: float) -> float:
    """Round to 6 dp the way the ENGINE does: Spark's round() (and
    DuckDB's) takes the double's shortest decimal repr and rounds
    HALF_UP; Python's round() is banker's (HALF_EVEN) on the true
    binary value. The two differ exactly at representable 6-dp
    midpoints — e.g. 1/128 = 0.0078125, which small-integer-ratio
    references genuinely produce (hypothesis found it in the CvM
    term (n_bin/N) * gap^2). Reference code must model the engine."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


@SLOW
@given(st.lists(DATES, min_size=1, max_size=20),
       st.sampled_from(["%m/%d/%Y", "%Y-%m-%d", "%m-%d-%Y", "%Y/%m/%d",
                        "excel", "%Y-%m-%dT%H:%M:%S"]))
def test_parse_date_multi_recovers_any_rendering(spark, ds, fmt):
    if fmt == "excel":
        origin = dt.date(1899, 12, 30)
        raws = [str((d - origin).days) for d in ds]
        ds = [d for d in ds if 20000 <= (d - origin).days <= 80000]
        raws = [r for r in raws if 20000 <= int(r) <= 80000]
        if not raws:
            return
    else:
        raws = [d.strftime(fmt) for d in ds]
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = [r["d"] for r in
           df.select(dates.parse_date_multi("raw").alias("d")).collect()]
    assert got == ds


@SLOW
@given(st.lists(st.text(
    alphabet=" abcXYZ0189-.'", min_size=0, max_size=25), min_size=1, max_size=20))
def test_annihilate_idempotent_and_clean(spark, names):
    df = spark.createDataFrame([(n,) for n in names], "name string")
    out = df.select(
        cleaning.annihilate("name").alias("once")).select(
        F.col("once"), cleaning.annihilate("once").alias("twice")).collect()
    for r in out:
        assert r["once"] == r["twice"]          # idempotent
        assert r["once"] is None or all(
            c.isalnum() and c == c.upper() for c in r["once"])


@SLOW
@given(st.lists(st.tuples(st.integers(0, 30),
                          st.sampled_from(["ANNA", "ANNE", "BOB", "CARLOS", "ZZZZZZ"])),
                min_size=1, max_size=25))
def test_band_routing_partitions_probe_set(spark, rows):
    """Every probe rowid lands in exactly one of {banded, did_not_match}
    — the fuzzy.Rmd:1079-1085 rows_printed conservation property."""
    probe = spark.createDataFrame(
        [(i, n, k % 3) for i, (k, n) in enumerate(rows)],
        "rowid int, name_l string, block int")
    univ = spark.createDataFrame(
        [(100, "ANNA", 0), (101, "BOBB", 1), (102, "CAROL", 2)],
        "match_id int, name_r string, block int")
    m = fuzzy.blocked_distance_join(
        probe, univ, left_key="name_l", right_key="name_r",
        block_keys=["block"], max_dist=2)
    banded = fuzzy.band_by_distance(m, rowid="rowid")
    matched_ids = {r["rowid"] for r in banded.select("rowid").collect()}
    unmatched = probe.join(banded.select("rowid").dropDuplicates(),
                           "rowid", "left_anti")
    unmatched_ids = {r["rowid"] for r in unmatched.collect()}
    all_ids = {r["rowid"] for r in probe.collect()}
    assert matched_ids | unmatched_ids == all_ids
    assert not (matched_ids & unmatched_ids)
    # within banded: one band per rowid (min-distance resolution)
    per = banded.groupBy("rowid").agg(
        F.countDistinct("band").alias("nb")).collect()
    assert all(r["nb"] == 1 for r in per)


@SLOW
@given(st.integers(1, 120), st.integers(1, 17))
def test_chunk_assignment_exact(spark, n, chunk_rows):
    df = spark.range(n).withColumn("k", F.col("id").cast("string"))
    out = sinks.add_chunk_id(df, ["k"], chunk_rows)
    sizes = {r["chunk"]: r["n"] for r in
             out.groupBy("chunk").agg(F.count("*").alias("n")).collect()}
    assert sorted(sizes) == list(range(len(sizes)))      # contiguous ids
    assert sum(sizes.values()) == n                      # conservation
    assert all(v <= chunk_rows for v in sizes.values())
    full = [sizes[c] for c in sorted(sizes)[:-1]]
    assert all(v == chunk_rows for v in full)            # only tail partial


TOKENS = st.lists(st.text(alphabet="abcdxy", min_size=1, max_size=4),
                  min_size=1, max_size=12)


@SLOW
@given(st.lists(TOKENS, min_size=1, max_size=6))
def test_repetition_metrics_bounded_and_scrub_idempotent(spark, docs):
    from sequencing_integration_pipeline1_0_spark.operators import textstats as ts
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = df.select(
        ts.top_word_frac("text").alias("twf"),
        ts.dup_ngram_frac("text", 2).alias("bg"),
        ts.pii_scrub("text").alias("s1"),
        ts.pii_scrub(ts.pii_scrub("text")).alias("s2")).collect()
    for r in out:
        assert 0.0 < r["twf"] <= 1.0
        assert 0.0 <= r["bg"] < 1.0
        assert r["s1"] == r["s2"]       # scrubbing is idempotent


@SLOW
@given(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                min_size=1, max_size=12))
def test_connected_components_labels_are_fixpoint(spark, edges):
    """cluster ids are component minima: relabeling the collapsed edge
    list changes nothing, and every label is <= its node id."""
    from sequencing_integration_pipeline1_0_spark.operators import dedupe_scale as ds2
    e = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 1)],
        "id_a long, id_b long")
    lab = ds2.connected_components(e)
    rows = lab.collect()
    assert all(r["cluster_id"] <= r["id"] for r in rows)
    collapsed = (lab.alias("x")
                 .join(lab.alias("y"),
                       F.col("x.cluster_id") == F.col("y.cluster_id"))
                 .filter(F.col("x.id") < F.col("y.id"))
                 .select(F.col("x.id").alias("id_a"),
                         F.col("y.id").alias("id_b")))
    again = {(r["id"], r["cluster_id"])
             for r in ds2.connected_components(collapsed).collect()}
    assert again == {(r["id"], r["cluster_id"]) for r in rows}


@SLOW
@given(st.lists(
           st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12)
             .map(lambda xs: " ".join(xs)),
           min_size=4, max_size=18),
       # 0.55 / 0.35: thresholds whose sz*t product lands on binary-
       # float overshoot (the float-ceil regression's family)
       st.sampled_from([0.25, 0.35, 0.4, 0.55, 0.6, 0.8]))
def test_prefix_filter_exactness_property(spark, docs, threshold):
    """AllPairs prefix-filter exactness over RANDOM corpora: for any
    corpus and any threshold >= the cutover, the prefix-filtered join
    must return exactly the brute-force all-pairs result (same pairs,
    same jaccard values). Small alphabet forces heavy gram sharing —
    the adversarial case for candidate pruning."""
    from sequencing_integration_pipeline1_0_spark.operators import (
        dedupe_scale as ds)
    df = spark.createDataFrame(
        [(i, t, "blk") for i, t in enumerate(docs)],
        "doc_id long, text string, lang string")
    df = df.filter(F.size(ds.words("text")) >= 3)
    got = {(r["id_a"], r["id_b"], r["jaccard"])
           for r in ds.ngram_jaccard_join(df, "doc_id", "text", "lang",
                                          threshold=threshold,
                                          prefix_filter=True).collect()}
    want = {(r["id_a"], r["id_b"], r["jaccard"])
            for r in ds.ngram_jaccard_join(df, "doc_id", "text", "lang",
                                           threshold=threshold,
                                           prefix_filter=False).collect()}
    assert got == want


@SLOW
@given(st.lists(
    st.tuples(st.integers(1, 6),                  # user
              st.sampled_from(["signup", "view", "click", "purchase"]),
              st.integers(0, 20)),                # ts
    min_size=1, max_size=30))
def test_funnel_steps_matches_bruteforce(spark, events):
    """funnel_steps == a per-user sequential scan done in plain Python:
    first signup, then first view strictly after it, then first click
    strictly after that, then first purchase — on ANY event set,
    including duplicate timestamps and out-of-order arrivals."""
    from sequencing_integration_pipeline1_0_spark.operators import aggregates

    steps = ["signup", "view", "click", "purchase"]

    def brute():
        counts = [0] * 4
        users = {u for u, _, _ in events}
        for u in users:
            mine = [(t, ty) for (uu, ty, t) in events if uu == u]
            prev = None
            for i, step in enumerate(steps):
                cand = [t for (t, ty) in mine
                        if ty == step and (prev is None or t > prev)]
                if not cand:
                    break
                prev = min(cand)
                counts[i] += 1
        return {(i + 1, steps[i], counts[i]) for i in range(4)}

    df = spark.createDataFrame(
        [(u, ty, t) for (u, ty, t) in events],
        "user_id long, event_type string, ts_us long")
    got = {(r["step"], r["step_name"], r["n_users"])
           for r in aggregates.funnel_steps(
               df, "user_id", "event_type", "ts_us", steps).collect()}
    assert got == brute()


@SLOW
@given(st.lists(
    st.tuples(st.integers(1, 5),                   # user
              st.integers(0, 27)),                 # day offset
    min_size=1, max_size=25))
def test_retention_cohort_triangle_matches_bruteforce(spark, events):
    """The cohort triangle == a per-user python scan: cohort = Monday
    of the user's first event week; each (cohort, week offset) cell
    counts distinct users active that week."""
    base = dt.date(2024, 1, 1)

    def monday(d):
        return d - dt.timedelta(days=d.weekday())

    def brute():
        firsts = {}
        for u, off in events:
            w = monday(base + dt.timedelta(days=off))
            if u not in firsts or w < firsts[u]:
                firsts[u] = w
        cells = {}
        for u, off in events:
            w = monday(base + dt.timedelta(days=off))
            k = (str(firsts[u]), (w - firsts[u]).days // 7)
            cells.setdefault(k, set()).add(u)
        return {(c, o, len(us)) for (c, o), us in cells.items()}

    df = spark.createDataFrame(
        [(u, (dt.datetime(2024, 1, 1) + dt.timedelta(days=off)))
         for u, off in events],
        "user_id long, et timestamp")
    e = df.select("user_id",
                  F.date_trunc("week", "et").cast("date").alias("wk"))
    f = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    got = {(r["cohort_week"], r["week_no"], r["n_active"]) for r in
           (e.join(f, "user_id")
             .groupBy(F.col("cohort_wk").cast("string").alias("cohort_week"),
                      (F.datediff("wk", "cohort_wk") / 7).cast("int")
                       .alias("week_no"))
             .agg(F.countDistinct("user_id").cast("long")
                   .alias("n_active"))).collect()}
    assert got == brute()


@SLOW
@given(st.lists(st.tuples(st.integers(1, 4),
                          st.lists(st.sampled_from("abcd"),
                                   min_size=0, max_size=8)),
                min_size=1, max_size=8))
def test_repeated_spans_matches_bruteforce(spark, docs):
    """repeated_spans == python: every word 3-gram occurring in >= 2
    distinct docs, with its (doc, pos)-smallest witness."""
    from sequencing_integration_pipeline1_0_spark.operators import textstats
    corpus = [(i, " ".join(ws)) for i, (_, ws) in enumerate(docs)]

    def brute():
        occ = {}
        for i, text in corpus:
            ws = text.split()
            for p in range(len(ws) - 2):
                occ.setdefault(" ".join(ws[p:p + 3]), []).append((i, p))
        out = {}
        for gram, hits in occ.items():
            ds = {i for i, _ in hits}
            if len(ds) >= 2:
                out[gram] = (len(ds), len(hits), min(hits))
        return sorted(out.values())

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = sorted((r["n_docs"], r["n_occurrences"],
                  (r["first_doc_id"], r["first_pos"]))
                 for r in textstats.repeated_spans(
                     df, "doc_id", "text", n=3, min_docs=2).collect())
    assert got == brute()


@SLOW
@given(st.lists(
    st.tuples(st.integers(1, 5),                   # user
              st.integers(0, 20)),                 # day offset
    min_size=1, max_size=25))
def test_active_users_window_matches_bruteforce(spark, events):
    """DAU / trailing-7-day WAU via the day-explode trick == a python
    scan over every (window day, 7-day lookback)."""
    base = dt.date(2024, 1, 1)
    days = [base + dt.timedelta(days=off) for _, off in events]
    d0, d1 = min(days), max(days)

    def brute():
        out = set()
        d = d0 + dt.timedelta(days=6)
        while d <= d1:
            dau = {u for u, off in events
                   if base + dt.timedelta(days=off) == d}
            wau = {u for u, off in events
                   if 0 <= (d - (base + dt.timedelta(days=off))).days <= 6}
            if wau:  # a window day only exists if someone was active in it
                out.add((str(d), len(dau), len(wau)))
            d += dt.timedelta(days=1)
        return out

    df = spark.createDataFrame(
        [(u, base + dt.timedelta(days=off)) for u, off in events],
        "user_id long, d date").distinct()
    span = df.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    contrib = df.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
         .alias("day"))
    wau = (contrib.groupBy("day")
                  .agg(F.countDistinct("user_id").alias("wau")))
    dau = (df.groupBy(F.col("d").alias("day"))
             .agg(F.countDistinct("user_id").alias("dau")))
    got = {(r["day"], r["dau"], r["wau"]) for r in
           (wau.join(dau, "day", "left")
               .join(F.broadcast(span))
               .filter((F.col("day") >= F.date_add(F.col("d0"), 6))
                       & (F.col("day") <= F.col("d1")))
               .select(F.col("day").cast("string").alias("day"),
                       F.coalesce("dau", F.lit(0)).alias("dau"), "wau")
            ).collect()}
    assert got == brute()


@SLOW
@given(st.lists(
    st.tuples(st.integers(1, 3),                   # user
              st.booleans(),                       # click? else purchase
              st.integers(0, 100)),                # ts (micros scale 1e6)
    min_size=1, max_size=20))
def test_interval_join_matches_bruteforce(spark, events):
    """interval_join_streams' batch form == python: every (click,
    purchase) same-user pair with purchase strictly after the click
    and within 30 time units."""
    from sequencing_integration_pipeline1_0_spark.streaming import (
        incremental as stream_ops,
    )
    rows = [(i, u, "click" if c else "purchase", t * 1_000_000)
            for i, (u, c, t) in enumerate(events)]

    def brute():
        out = {(ci, pi)
               for ci, cu, ct, cts in rows if ct == "click"
               for pi, pu, pt, pts in rows
               if pt == "purchase" and pu == cu and pts > cts
               and pts <= cts + 30 * 60 * 1_000_000}
        return sorted(out)

    df = spark.createDataFrame(
        rows, "eid long, user_id long, t string, ts_us long")
    c = (df.filter(F.col("t") == "click")
           .select(F.col("eid").alias("click_id"), "user_id",
                   F.timestamp_micros("ts_us").alias("click_time")))
    p = (df.filter(F.col("t") == "purchase")
           .select(F.col("eid").alias("purchase_id"),
                   F.col("user_id").alias("user_id_p"),
                   F.timestamp_micros("ts_us").alias("purchase_time")))
    got = sorted((r["click_id"], r["purchase_id"]) for r in
                 stream_ops.interval_join_streams(
                     c, p, "user_id", "user_id_p",
                     "click_time", "purchase_time",
                     within="30 minutes").collect())
    assert got == brute()


@SLOW
@given(st.lists(st.lists(st.integers(-4, 4), min_size=3, max_size=3),
                min_size=3, max_size=14))
def test_semantic_nn_dedup_matches_bruteforce(spark, vecs):
    """semantic_nn_dedup == python: seeded-cell assignment (rounded
    cosine, tie -> lower cell), within-cell nearest neighbor (tie ->
    lower id), dup iff a lower-id cellmate sits at cosine >= τ."""
    import math

    from sequencing_integration_pipeline1_0_spark.operators import similarity

    # avoid zero vectors (cosine undefined) by nudging the first axis
    rows = [(i, [float(v[0]) + 0.25, float(v[1]), float(v[2])])
            for i, v in enumerate(vecs)]
    n_cells, tau = 2, 0.9

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    def brute():
        cents = rows[:n_cells]
        cell = {}
        for i, v in rows:
            best = min(((-cos(v, cv), cid) for cid, cv in cents))
            cell[i] = best[1]
        out = {}
        for i, v in rows:
            mates = [(j, w) for j, w in rows if j != i and cell[j] == cell[i]]
            if mates:
                nn = min(((-cos(v, w), j) for j, w in mates))
                nn_id, nn_sim = nn[1], -nn[0]
            else:
                nn_id = nn_sim = None
            dup = int(any(j < i and cos(v, w) >= tau for j, w in mates))
            out[i] = (cell[i], nn_id, nn_sim, dup)
        return out

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["id"]: (r["cell_id"], r["nn_id"], r["nn_sim"], r["is_dup"])
           for r in similarity.semantic_nn_dedup(
               df, "vec_id", "embedding",
               n_cells=n_cells, threshold=tau).collect()}
    want = brute()
    assert set(got) == set(want)
    for i in got:
        gc, gn, gs, gd = got[i]
        wc, wn, ws, wd = want[i]
        assert (gc, gn, gd) == (wc, wn, wd), (i, got[i], want[i])
        if ws is None:
            assert gs is None
        else:
            assert abs(gs - ws) < 2e-6


@SLOW
@given(st.lists(
    st.lists(st.sampled_from(["aaa", "bbb", "ccc", "ddd", ""]),
             min_size=0, max_size=6),
    min_size=1, max_size=8))
def test_dedup_lines_global_matches_bruteforce(spark, docs):
    """dedup_lines_global == python: a non-blank line survives only at
    its lowest (doc, line_no); blanks always survive; per-doc order
    preserved; removal counts conserve."""
    from sequencing_integration_pipeline1_0_spark.operators import (
        dedupe_scale as ds)
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    # operate on split segments of the rendered text: ''.split('\n')
    # is [''] (one blank line), not [] — the operator's line model
    split_docs = [t.split("\n") for _, t in rows]

    def brute():
        firsts = {}
        for i, lines in enumerate(split_docs):
            for p, ln in enumerate(lines):
                if ln.strip() and ln not in firsts:
                    firsts[ln] = (i, p)
        out = {}
        for i, lines in enumerate(split_docs):
            kept = [ln for p, ln in enumerate(lines)
                    if not ln.strip() or firsts[ln] == (i, p)]
            out[i] = ("\n".join(kept), len(lines), len(lines) - len(kept))
        return out

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
           for r in ds.dedup_lines_global(df, "doc_id", "text").collect()}
    assert got == brute()


@SLOW
@given(st.lists(
    st.lists(st.sampled_from(["red", "blue", "fox", "dog", "run"]),
             min_size=2, max_size=8),
    min_size=2, max_size=10))
def test_simhash_hamming_join_matches_bruteforce(spark, docs):
    """Banded Hamming-ball join == all-pairs popcount for radius <
    bands (pigeonhole exactness) on ANY corpus."""
    from sequencing_integration_pipeline1_0_spark.operators import (
        dedupe_scale as ds)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           ds.simhash_near_dup_join(df, "doc_id", "text",
                                    max_hamming=3).collect()}
    hashes = {r["doc_id"]: r["h"] for r in
              df.select("doc_id", ds.simhash16("text").alias("h")).collect()}
    ids = sorted(hashes)
    want = {(a, b): bin(hashes[a] ^ hashes[b]).count("1")
            for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(hashes[a] ^ hashes[b]).count("1") <= 3}
    assert got == want


@SLOW
@given(st.lists(
    st.lists(st.sampled_from("pqrs"), min_size=0, max_size=7),
    min_size=1, max_size=7))
def test_repeated_span_fraction_matches_bruteforce(spark, docs):
    """Per-doc boilerplate fraction == python: of a doc's 2-grams
    (with multiplicity), the share that occur in >= 2 distinct docs."""
    from sequencing_integration_pipeline1_0_spark.operators import textstats
    rows = [(i, " ".join(ws)) for i, (ws) in enumerate(docs)]

    def grams(ws):
        return [" ".join(ws[p:p + 2]) for p in range(len(ws) - 1)]

    def brute():
        docs_of = {}
        for i, ws in enumerate(docs):
            for g in set(grams(ws)):
                docs_of.setdefault(g, set()).add(i)
        out = {}
        for i, ws in enumerate(docs):
            gs = grams(ws)
            rep = sum(1 for g in gs if len(docs_of[g]) >= 2)
            frac = round(rep / len(gs), 6) if gs else 0.0
            out[i] = (len(gs), rep, frac)
        return out

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_repeated"], r["repeated_frac"])
           for r in textstats.repeated_span_fraction(
               df, "doc_id", "text", n=2, min_docs=2).collect()}
    assert got == brute()


def _py_canonicalize_url(u: str) -> str | None:
    """Independent Python reference of urls.canonicalize_url (written
    from the documented rules, not from the Spark expressions)."""
    import re
    u = u.strip()
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)"
                 r"(?:\?([^#]*))?(?:#.*)?$", u)
    if not m:
        return None
    scheme = m.group(1).lower()
    hostport = m.group(2).lower()
    if scheme == "http":
        hostport = re.sub(r":80$", "", hostport)
    elif scheme == "https":
        hostport = re.sub(r":443$", "", hostport)
    host = re.sub(r"^www\.", "", hostport)
    path = m.group(3)
    path = "/" if path == "" else re.sub(r"(.)/$", r"\1", path)
    params = [p for p in (m.group(4) or "").split("&")
              if p != "" and not re.match(
                  r"^(utm_[^=]*|fbclid|gclid|ref)(=|$)", p)]
    q = "&".join(sorted(params))
    return f"{scheme}://{host}{path}" + (f"?{q}" if q else "")


_URL_PARTS = dict(
    scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS", "ftp"]),
    www=st.sampled_from(["", "www.", "WWW."]),
    host=st.sampled_from(["e.com", "Ex-1.ORG", "a.b.co"]),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=st.sampled_from(["", "/", "/A/b", "/A/b/", "/x%20y/"]),
    query=st.lists(st.sampled_from(
        ["a=1", "B=2", "utm_source=x", "utm_x", "fbclid=9", "ref",
         "ref=z", "refresh=1", "", "z"]), max_size=4),
    frag=st.sampled_from(["", "#f", "#a/b?c=1"]),
)


@SLOW
@given(st.lists(st.fixed_dictionaries(_URL_PARTS), min_size=1,
                max_size=12))
def test_canonicalize_url_matches_python_reference(spark, parts):
    from sequencing_integration_pipeline1_0_spark.operators import urls
    raws = []
    for p in parts:
        q = "&".join(p["query"])
        raws.append(f"{p['scheme']}://{p['www']}{p['host']}{p['port']}"
                    f"{p['path']}" + (f"?{q}" if q else "") + p["frag"])
    raws += ["no scheme here", ""]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)],
                               "i int, u string")
    got = dict(df.select("i", urls.canonicalize_url("u").alias("c"))
                 .collect())
    for i, r in enumerate(raws):
        assert got[i] == _py_canonicalize_url(r), r


@SLOW
@given(st.lists(st.tuples(st.integers(0, 1),
                          st.floats(-1e6, 1e6, allow_nan=False)),
                min_size=2, max_size=60))
def test_ks_binned_matches_python_reference(spark, rows):
    """ks_binned_drift equals an independently-written binned-ECDF
    reference for arbitrary two-cohort samples."""
    from sequencing_integration_pipeline1_0_spark.operators import qa

    df = spark.createDataFrame(rows, "grp INT, v DOUBLE")
    got = {r.bin: r for r in
           qa.ks_binned_drift(df, "v", "grp", bins=8).collect()}

    lo = min(v for _, v in rows)
    hi = max(v for _, v in rows)
    cnt = {b: [0, 0] for b in range(8)}
    for g, v in rows:
        b = min(7, int((v - lo) / (hi - lo) * 8)) if hi > lo else 0
        cnt[b][g] += 1
    ta = max(sum(c[0] for c in cnt.values()), 1)
    tb = max(sum(c[1] for c in cnt.values()), 1)
    ca = cb = 0
    for b in range(8):
        ca += cnt[b][0]
        cb += cnt[b][1]
        r = got[b]
        assert (r.n_a, r.n_b) == tuple(cnt[b])
        assert abs(r.cdf_a - round(ca / ta, 6)) < 1e-9
        assert abs(r.cdf_b - round(cb / tb, 6)) < 1e-9
        assert abs(r.ks_dist
                   - round(abs(round(ca / ta, 6) - round(cb / tb, 6)),
                           6)) < 1e-9


@SLOW
@given(st.lists(st.tuples(st.integers(0, 1),
                          st.floats(-1e6, 1e6, allow_nan=False)),
                min_size=2, max_size=60))
def test_cvm_binned_matches_python_reference(spark, rows):
    """cvm_binned_drift equals an independently-written
    pooled-mass-weighted squared-CDF-gap reference for arbitrary
    two-cohort samples, including the stat column (exact sum of the
    rounded per-bin terms)."""
    from sequencing_integration_pipeline1_0_spark.operators import qa

    df = spark.createDataFrame(rows, "grp INT, v DOUBLE")
    got = {r.bin: r for r in
           qa.cvm_binned_drift(df, "v", "grp", bins=8).collect()}

    lo = min(v for _, v in rows)
    hi = max(v for _, v in rows)
    cnt = {b: [0, 0] for b in range(8)}
    for g, v in rows:
        b = min(7, int((v - lo) / (hi - lo) * 8)) if hi > lo else 0
        cnt[b][g] += 1
    ta = max(sum(c[0] for c in cnt.values()), 1)
    tb = max(sum(c[1] for c in cnt.values()), 1)
    big_n = max(sum(sum(c) for c in cnt.values()), 1)
    ca = cb = 0
    stat = 0
    terms = {}
    for b in range(8):
        ca += cnt[b][0]
        cb += cnt[b][1]
        gap = round6_half_up(ca / ta) - round6_half_up(cb / tb)
        terms[b] = round6_half_up(sum(cnt[b]) / big_n * gap * gap)
        stat += round(terms[b] * 10**6)
    stat = round(stat / 10**6, 6)
    for b in range(8):
        r = got[b]
        assert (r.n_a, r.n_b) == tuple(cnt[b])
        assert abs(r.cvm_term - terms[b]) < 1e-9
        assert abs(r.cvm_stat - stat) < 1e-9


@SLOW
@given(st.lists(st.tuples(st.integers(0, 14),
                          st.floats(-1e3, 1e3, allow_nan=False)),
                min_size=1, max_size=80))
def test_psi_sliding_matches_python_reference(spark, rows):
    """psi_sliding_drift equals an independently-written
    trailing-window-vs-global Laplace-smoothed PSI reference over a
    densified calendar, for arbitrary (day, value) samples — absent
    days zero-fill, partial-history days are fenced."""
    import datetime
    import math

    from sequencing_integration_pipeline1_0_spark.operators import qa

    d0 = datetime.date(2024, 1, 1)
    data = [(d0 + datetime.timedelta(days=d), v) for d, v in rows]
    df = spark.createDataFrame(data, "day DATE, v DOUBLE")
    bins, win = 5, 3
    got = {r.day: r for r in
           qa.psi_sliding_drift(df, "v", "day", bins=bins,
                                window=win).collect()}

    lo = min(v for _, v in rows)
    hi = max(v for _, v in rows)
    days = sorted({d for d, _ in rows})
    span = range(days[0], days[-1] + 1)
    cnt = {d: [0] * bins for d in span}
    for d, v in rows:
        b = min(bins - 1, int((v - lo) / (hi - lo) * bins)) \
            if hi > lo else 0
        cnt[d][b] += 1
    base = [sum(cnt[d][b] for d in span) for b in range(bins)]
    t_base = sum(base)
    expect_rows = 0
    for i, d in enumerate(span):
        if i < win:
            continue
        expect_rows += 1
        n_w = [sum(cnt[list(span)[j]][b]
                   for j in range(max(0, i - win), i))
               for b in range(bins)]
        t_w = sum(n_w)
        psi = 0
        for b in range(bins):
            pw = (n_w[b] + 1.0) / (t_w + float(bins))
            pb = (base[b] + 1.0) / (t_base + float(bins))
            psi += round(round((pw - pb) * math.log(pw / pb), 6)
                         * 10**6)
        psi = round(psi / 10**6, 6)
        key = str(d0 + datetime.timedelta(days=d))
        r = got[key]
        assert r.n_win == t_w
        assert abs(r.psi - psi) < 1e-9, (key, r.psi, psi)
    assert len(got) == expect_rows


@SLOW
@given(st.lists(st.text(alphabet="abr cé\U0001f642",
                        min_size=0, max_size=40),
                min_size=1, max_size=12))
def test_char_entropy_matches_python_reference(spark, texts):
    """char_entropy equals the quantized Python reference for
    arbitrary unicode strings (incl. emoji and empties)."""
    import math
    from collections import Counter

    from sequencing_integration_pipeline1_0_spark.operators import (
        textstats as tstats,
    )

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in tstats.char_entropy(df).collect()}
    for i, t in enumerate(texts):
        c = Counter(t)
        n = sum(c.values())
        r = got[i]
        assert r.n_chars_tot == n and r.n_distinct == len(c)
        if n == 0:
            assert r.entropy == 0.0
        else:
            s = sum(round(k * math.log(k), 6) for k in c.values())
            assert abs(r.entropy - round(math.log(n) - s / n, 6)) < 1e-9


@SLOW
@given(st.lists(st.tuples(st.integers(0, 3), st.sampled_from("abc")),
                min_size=1, max_size=40))
def test_markov_rows_sum_to_one_and_conserve_events(spark, evs):
    """Matrix invariants on arbitrary event streams: observed-state
    rows sum to 1; total transitions == total events (every event
    transitions exactly once, the last to '(end)')."""
    from sequencing_integration_pipeline1_0_spark.operators import (
        aggregates as agg,
    )

    rows = [(u, t, i, i) for i, (u, t) in enumerate(evs)]
    df = spark.createDataFrame(
        rows, "user_id LONG, event_type STRING, ts_us LONG, event_id LONG")
    out = agg.markov_transitions(df, "user_id", "event_type",
                                 ["ts_us", "event_id"]).collect()
    assert sum(r.n_transitions for r in out) == len(evs)
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r)
    seen_src = {t for _, t in evs}
    for src, rs in by_src.items():
        total = sum(r.n_transitions for r in rs)
        if src in seen_src and total > 0:
            assert abs(sum(r.prob for r in rs) - 1.0) < 1e-5, src

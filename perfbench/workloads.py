"""The benchmark workloads, written against the package's public entry
points exactly as a user's scheduled job would call them.

`scheduled_day` runs the linkage batch and then the daily QA suite in
one pass; `corpus_search` builds a frozen IVF-PQ index and answers
query batches. Each has a plain pass (timed end to end, tracing off), an
output check, and a traced pass that runs every layer on its own from
inputs staged to local parquet, inside named spans (see tracing.py).
"""

from __future__ import annotations

import csv
import glob
import json
import os
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sequencing_integration_pipeline1_0_spark.functions import cleaning, dates
from sequencing_integration_pipeline1_0_spark.operators import (
    cdc, dedup, fuzzy, qa, similarity)
from sequencing_integration_pipeline1_0_spark.plans import pipelines as P
from sequencing_integration_pipeline1_0_spark.sources import ingest, sinks

import gen
from tracing import Stopwatch, noop


def _stage(df: DataFrame, path: str) -> DataFrame:
    """Write `df` to local parquet and read it back, so the next layer
    starts from materialised input."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _files(root: str) -> tuple[int, int]:
    """(data files, bytes) written under `root`."""
    paths = [p for p in glob.glob(os.path.join(root, "**", "part-*"),
                                  recursive=True) if os.path.isfile(p)]
    return len(paths), sum(os.path.getsize(p) for p in paths)


def _plan(df: DataFrame) -> None:
    df._jdf.queryExecution().executedPlan()


class _Traced:
    """Helpers shared by the traced passes: span-timed build / plan /
    exec phases with job and count bookkeeping."""

    def __init__(self, tr):
        self.tr = tr
        self.counts: dict[str, float] = {}

    def add(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + v

    def build(self, layer: str, fn):
        with self.tr.span(f"{layer}.build") as g:
            out = fn()
        self.add(f"{layer}.build_jobs", self.tr.jobs(g))
        return out

    def plan(self, layer: str, *dfs: DataFrame) -> None:
        with self.tr.span(f"{layer}.plan"):
            for df in dfs:
                _plan(df)

    def exec(self, layer: str, *dfs: DataFrame) -> None:
        with self.tr.span(f"{layer}.exec"):
            for df in dfs:
                noop(df)


# ----------------------------------------------------------------------
# scheduled_day, linkage half
# ----------------------------------------------------------------------

_AS_OF = "2023-01-15"
_CHUNK_ORDER = ("CASE_ID", "SEQUENCE_ACCESSION", "SEQUENCE_CLINICAL_ACCESSION")
_FUZZY_ROUTES = ("roster", "review", "did_not_match")
_LINKED = ("roster", "fuzzy_roster")
#: floors on the link figures: far below what the generator's mix
#: gives (about 0.67 linked at 0.95 precision), so only a broken
#: matcher fails them
MIN_LINKED_FRAC, MIN_LINK_PRECISION = 0.5, 0.9


def _candidates(routed: DataFrame) -> DataFrame:
    return (routed.filter(F.col("route") == "fuzzy_candidates")
                  .select(F.col("ALTERNATIVE_ID").alias("rowid"),
                          "FIRST_NAME", "LAST_NAME", "dob_date",
                          "collection_date"))


def _fuzzy_links(fz: dict[str, DataFrame]) -> DataFrame:
    """(rowid, case, route) over the three fuzzy routes."""
    parts = [fz[r].select(
        "rowid",
        (F.col("matched_case_id") if r != "did_not_match"
         else F.lit(None).cast("string")).alias("case"),
        F.lit(f"fuzzy_{r}").alias("final_route")) for r in _FUZZY_ROUTES]
    return reduce(DataFrame.unionByName, parts)


def _linked(routed: DataFrame, fz_links: DataFrame) -> DataFrame:
    """Every submission with its final route and linked case."""
    direct = routed.filter(F.col("route") != "fuzzy_candidates").select(
        "*", F.col("matched_case_id").alias("case"),
        F.col("route").alias("final_route"))
    via_fuzzy = (routed.filter(F.col("route") == "fuzzy_candidates")
                 .drop("matched_case_id")
                 .join(fz_links, F.col("ALTERNATIVE_ID") == F.col("rowid"))
                 .drop("rowid")
                 .withColumn("matched_case_id", F.col("case")))
    return direct.unionByName(via_fuzzy)


def _upload(linked: DataFrame) -> DataFrame:
    roster = P.to_roster_schema(
        linked.filter(F.col("final_route").isin(*_LINKED)), as_of=F.lit(_AS_OF).cast("date"))
    compiled = P.roster_compile_routed(roster, chunk_order=_CHUNK_ORDER)
    return compiled.filter(F.col("route") == "upload").select(
        *[F.col(f"`{c}`") for c in P.ROSTER_COLUMNS], "chunk")


class LinkageBatch:
    """The linkage half of a scheduled day."""

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.sizes = gen.gen_linkage(work, seed, scale)
        self.csv = os.path.join(work, "submissions", "batch.csv")
        self.universe = os.path.join(work, "wdrs", "universe.parquet")
        with open(os.path.join(work, "truth", "linkage.json")) as f:
            self.truth = json.load(f)
        self.quality: dict | None = None

    def first_read(self, spark) -> None:
        ingest.read_csv_allstring(spark, self.csv).count()
        spark.read.parquet(self.universe).count()

    def _out(self, k) -> str:
        return os.path.join(self.work, "out", f"pass-{k}")

    def run_pass(self, spark, k) -> tuple[float, float]:
        """One batch; returns (wall, cpu) seconds."""
        out = self._out(k)
        with Stopwatch() as sw:
            subs = ingest.read_csv_allstring(spark, self.csv)
            uni = spark.read.parquet(self.universe)
            routed = P.template_route_tags(subs, uni)
            fz = P.fuzzy_match_path(_candidates(routed), uni)
            _linked(routed, _fuzzy_links(fz)).write.parquet(
                os.path.join(out, "links"))
            linked = spark.read.parquet(os.path.join(out, "links"))
            sinks.write_partitioned(_upload(linked),
                                    os.path.join(out, "roster"), "chunk")
        return sw.wall, sw.cpu

    def check(self, spark, k) -> bool:
        out = self._out(k)
        links = pq.read_table(os.path.join(out, "links"),
                              columns=["ALTERNATIVE_ID", "final_route", "case"])
        routes: dict[str, set] = {}
        cases: dict[str, set] = {}
        for r in zip(*(c.to_pylist() for c in links.columns)):
            routes.setdefault(r[0], set()).add(r[1])
            if r[1] in _LINKED:
                cases.setdefault(r[0], set()).add(r[2])
        # conservation: every submission in exactly one route
        ok = (set(routes) == set(self.truth)
              and all(len(v) == 1 for v in routes.values()))
        chunks = sorted(glob.glob(os.path.join(out, "roster", "chunk=*")))
        ok = ok and bool(chunks)
        for d in chunks:
            n = 0
            for p in glob.glob(os.path.join(d, "part-*.csv")):
                with open(p, newline="") as f:
                    got = list(csv.reader(f))
                ok = ok and bool(got) and got[0] == P.ROSTER_COLUMNS
                n += len(got) - 1
            ok = ok and 0 < n <= 500
        correct = sum(1 for sid, c in cases.items()
                      if c == {self.truth[sid]["case"]})
        quality = {"linked_frac": len(cases) / len(self.truth),
                   "link_precision": correct / max(1, len(cases))}
        if self.quality is None:
            self.quality = quality
        return (ok and quality == self.quality
                and quality["linked_frac"] >= MIN_LINKED_FRAC
                and quality["link_precision"] >= MIN_LINK_PRECISION)

    def traced_pass(self, spark, tr, k) -> dict:
        t = _Traced(tr)
        st = os.path.join(self._out(k), "stage")
        with tr.span("traced_pass"):
            subs = t.build("sources.ingest",
                           lambda: ingest.read_csv_allstring(spark, self.csv))
            t.exec("sources.ingest", subs)
            subs = _stage(subs, os.path.join(st, "subs"))
            t.add("sources.ingest.rows", subs.count())
            uni = spark.read.parquet(self.universe)

            t.exec("functions", subs.select(
                dates.parse_date_multi("SPECIMEN_COLLECTION_DATE"),
                dates.parse_date_multi("DOB"),
                cleaning.annihilate(cleaning.name_concat(
                    "FIRST_NAME", "LAST_NAME"))))

            routed = t.build("plans.pipelines",
                             lambda: P.template_route_tags(subs, uni))
            t.plan("plans.pipelines", routed)
            t.exec("plans.pipelines", routed)
            routed = _stage(routed, os.path.join(st, "routed"))
            t.add("plans.pipelines.route_rows",
                  routed.filter(F.col("route").isNotNull()).count())

            # the operators template_route_tags wraps, called directly
            # with its arguments
            t.exec("operators.dedup", dedup.dedup_first(
                routed, ["LAB_ACCESSION_ID", "FIRST_NAME", "LAST_NAME", "DOB"],
                [F.col("matched_case_id").asc_nulls_last()]))
            flagged = qa.roster_filters(
                routed.drop(*[c for c in routed.columns
                              if c.startswith("QA_") or c in ("qa_sum", "route")]),
                expr_flags={
                    "QA_STATUS": ~F.upper(F.col("SEQUENCE_STATUS")).isin(
                        "COMPLETE", "FAILED", "LOW QUALITY", "NOT DONE",
                        "HIGH CT", "PENDING"),
                    "QA_DATE_UNPARSEABLE": (
                        F.col("SPECIMEN_COLLECTION_DATE").isNotNull()
                        & F.col("collection_date").isNull())},
                dup_specs={"QA_SA_INT_DUPE": ["GISAID_ID"]})
            t.exec("operators.qa", flagged)
            t.add("operators.qa.flagged_rows",
                  flagged.filter(F.col("qa_sum") > 0).count())

            cands = _candidates(routed)
            fz = t.build("plans.pipelines",
                         lambda: _fuzzy_links(P.fuzzy_match_path(cands, uni)))
            t.plan("plans.pipelines", fz)
            t.exec("plans.pipelines", fz)
            fz = _stage(fz, os.path.join(st, "fuzzy"))

            # fuzzy_match_path's call into operators.fuzzy, replayed on
            # staged copies of the frames it builds
            left = _stage(cands.withColumn("name_norm", cleaning.annihilate(
                cleaning.name_concat("FIRST_NAME", "LAST_NAME")))
                .withColumn("dob_year", F.year("dob_date")),
                os.path.join(st, "fz_left"))
            right = _stage(uni.select(
                F.col("CASE_ID").alias("matched_case_id"),
                F.col("dob_date").alias("dob_date_r"),
                F.col("event_date").alias("event_date_r"),
                cleaning.annihilate(cleaning.name_concat(
                    "FIRST_NAME", "LAST_NAME")).alias("name_norm_r"),
                cleaning.annihilate(cleaning.name_flip(
                    "FIRST_NAME", "LAST_NAME")).alias("name_flip_r"),
                F.year("dob_date").alias("dob_year")).dropDuplicates(),
                os.path.join(st, "fz_right"))
            matches = fuzzy.fuzzy_name_join(
                left, right, left_name="name_norm", right_name="name_norm_r",
                right_flip="name_flip_r", block_keys=["dob_year"],
                max_dist=3, flip_max_dist=2)
            t.exec("operators.fuzzy", matches)
            n_match = matches.count()
            # straight and flipped passes each meet the whole block
            pairs = 2 * left.join(right, "dob_year").count()
            t.add("operators.fuzzy.matches", n_match)
            t.add("operators.fuzzy.block_pairs", pairs)
            t.add("operators.fuzzy.pairs_per_match", pairs / max(1, n_match))

            linked = _stage(_linked(routed, fz), os.path.join(st, "links"))
            upload = t.build("plans.pipelines", lambda: _upload(linked))
            t.plan("plans.pipelines", upload)
            t.exec("plans.pipelines", upload)
            upload = _stage(upload, os.path.join(st, "upload"))
            roster_dir = os.path.join(self._out(k), "roster")
            with tr.span("sources.sinks.write"):
                sinks.write_partitioned(upload, roster_dir, "chunk")
            n, b = _files(roster_dir)
            t.add("sources.sinks.files_written", n)
            t.add("sources.sinks.bytes_written", b)
        return t.counts


# ----------------------------------------------------------------------
# scheduled_day, QA-suite half
# ----------------------------------------------------------------------

_QA_COLS = ["CASE_ID", "SEQUENCE_CLINICAL_ACCESSION", "SEQUENCE_ACCESSION",
            "SEQUENCE_LAB", "SEQUENCE_VARIANT", "collection_date",
            "QA_COLLECT_DATE"]
_QA_MONTHS = [f"2021-0{i}" for i in range(1, 7)]


def _gap_table(today: DataFrame, yesterday: DataFrame):
    gap = P.gap_membership(today, yesterday.select("SEQUENCE_ACCESSION"),
                           key_col="SEQUENCE_ACCESSION")
    labeled = gap.select(F.col("SEQUENCE_LAB").alias("lab"),
                         F.date_format("collection_date", "yyyy-MM").alias("ym"))
    return gap, P.month_share_pivot(labeled, row_col="lab", ym_col="ym",
                                    months=_QA_MONTHS)


class QaDaily:
    """The QA-suite half of a scheduled day."""

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.days = gen.QaDays(seed, scale)
        self.root = os.path.join(work, "snapshots")
        # day 0 is the destination's existing history: staged straight
        # into the snapshot layout the sink reads
        gen.gen_qa_day(self.days, work)
        os.makedirs(os.path.join(self.root, "v=0"))
        os.replace(os.path.join(work, "exports", "day=0.parquet"),
                   os.path.join(self.root, "v=0", "part-0.parquet"))
        self.sizes = {"rows": self.days.n, "adds": self.days.r,
                      "changes": self.days.c}
        self.results: dict[int, dict] = {}

    def first_read(self, spark) -> None:
        sinks.read_snapshot(spark, self.root, 0).count()

    def _next_export(self) -> tuple[int, str]:
        d = gen.gen_qa_day(self.days, self.work)["day"]
        return d, os.path.join(self.work, "exports", f"day={d}.parquet")

    def run_pass(self, spark, k) -> tuple[float, float]:
        """One simulated day; returns (wall, cpu) seconds."""
        d, path = self._next_export()
        with Stopwatch() as sw:
            today = spark.read.parquet(path)
            sinks.write_snapshot(today, self.root, d)
            yesterday = sinks.read_snapshot(spark, self.root, d - 1)
            # the suite's later steps all read the day's diff: materialise
            # it once, as the job would, rather than recompute it per step
            added, removed = (df.localCheckpoint()
                              for df in cdc.snapshot_diff(today, yesterday))
            changes = cdc.classify_changes(added, removed, _QA_COLS,
                                           gen.QA_VARYING)
            res = {"added": added.count(), "removed": removed.count(),
                   "changed": changes.count()}
            res["triage"] = (P.dup_triage(added, yesterday).groupBy("branch")
                             .agg(F.count(F.lit(1)), F.sum("remove"),
                                  F.sum("manual_review")).collect())
            gap, pivot = _gap_table(today, yesterday)
            res["gap"] = gap.count()
            res["pivot"] = pivot.collect()
        self.results[k] = (d, res)
        return sw.wall, sw.cpu

    def check(self, spark, k) -> bool:
        d, res = self.results.pop(k)
        with open(os.path.join(self.work, "truth", f"qa_day={d}.json")) as f:
            truth = json.load(f)
        return (res["added"] == truth["added"] + truth["changed"]
                and res["removed"] == truth["removed"] + truth["changed"]
                and res["changed"] == truth["changed"]
                and res["gap"] == truth["added"]
                and len(res["pivot"]) > 1)

    def traced_pass(self, spark, tr, k) -> dict:
        t = _Traced(tr)
        st = os.path.join(self.work, "stage", f"pass-{k}")
        d, path = self._next_export()
        today = spark.read.parquet(path)
        with tr.span("traced_pass"):
            with tr.span("sources.sinks.write"):
                sinks.write_snapshot(today, self.root, d)
            n, b = _files(os.path.join(self.root, f"v={d}"))
            t.add("sources.sinks.files_written", n)
            t.add("sources.sinks.bytes_written", b)
            with tr.span("sources.sinks.read"):
                yesterday = sinks.read_snapshot(spark, self.root, d - 1)
                noop(yesterday)

            added, removed = cdc.snapshot_diff(today, yesterday)
            changes = cdc.classify_changes(added, removed, _QA_COLS,
                                           gen.QA_VARYING)
            t.exec("operators.cdc", added, removed, changes)
            added = _stage(added, os.path.join(st, "added"))
            t.add("operators.cdc.diff_rows",
                  added.count() + removed.count())

            # dup_triage's membership flags, called directly
            keys = {c: yesterday.select(F.col(c).alias("__k"))
                    .where(F.col("__k").isNotNull() & (F.trim("__k") != ""))
                    .distinct()
                    for c in ("SEQUENCE_CLINICAL_ACCESSION",
                              "SEQUENCE_ACCESSION")}
            flagged = qa.apply_membership_flags(added, {
                "__wdrs_sca": ("SEQUENCE_CLINICAL_ACCESSION",
                               keys["SEQUENCE_CLINICAL_ACCESSION"], "__k"),
                "__wdrs_sa": ("SEQUENCE_ACCESSION",
                              keys["SEQUENCE_ACCESSION"], "__k")})
            t.exec("operators.qa", flagged)
            t.add("operators.qa.flagged_rows", flagged.filter(
                (F.col("__wdrs_sca") == 1) | (F.col("__wdrs_sa") == 1)).count())

            triage, pivot = t.build("plans.pipelines", lambda: (
                P.dup_triage(added, yesterday),
                _gap_table(today, yesterday)[1]))
            t.plan("plans.pipelines", triage, pivot)
            t.exec("plans.pipelines", triage, pivot)
            t.add("plans.pipelines.route_rows", triage.count())
        return t.counts


# ----------------------------------------------------------------------
# corpus_search
# ----------------------------------------------------------------------

N_CELLS, N_PROBE, PQ_M, PQ_K = 8, 4, 32, 16
#: floor on recall@k over the batches a run answered: well below the
#: 0.5 these index settings reach, so only a broken search fails it
MIN_RECALL = 0.35


def _topk(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.col("approx_dist").asc(),
                                          F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= gen.CORPUS_K)
                 .select("qid", "neighbor_id"))


class CorpusSearch:
    name = "corpus_search"

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.sizes = gen.gen_corpus(work, seed, scale)
        self.corpus_path = os.path.join(work, "corpus", "corpus.parquet")
        self.query_path = os.path.join(work, "queries", "queries.parquet")
        with open(os.path.join(work, "truth", "corpus_topk.json")) as f:
            self.truth = {int(q): set(v) for q, v in json.load(f).items()}
        self.ids = set(pq.read_table(self.corpus_path, columns=["vec_id"])
                       .column(0).to_pylist())
        self.index = None
        self.hits = self.asked = 0

    def first_read(self, spark) -> None:
        self.corpus = spark.read.parquet(self.corpus_path)
        self.queries = spark.read.parquet(self.query_path)
        self.corpus.count()
        self.queries.count()

    def _index_calls(self):
        e = self.corpus
        coarse = similarity.train_ivf_codebook(
            e, "vec_id", "embedding", n_cells=N_CELLS, iters=2)
        pqcb = similarity.pq_codebooks(e, "vec_id", "embedding",
                                       m=PQ_M, k=PQ_K)
        entries = similarity.ivfpq_index_entries(
            e, "vec_id", "embedding", coarse=coarse, codebooks=pqcb,
            m=PQ_M, k=PQ_K)
        return coarse, pqcb, entries

    def build_index(self, spark) -> tuple[float, float]:
        """Build and materialise the frozen index; returns (wall, cpu)
        seconds."""
        with Stopwatch() as sw:
            coarse, pqcb, entries = self._index_calls()
            self.index = (coarse, pqcb.localCheckpoint(),
                          entries.localCheckpoint())
        return sw.wall, sw.cpu

    def _pairs(self, queries: DataFrame) -> DataFrame:
        coarse, pqcb, entries = self.index
        return similarity.ivfpq_adc_pairs(
            queries, "vec_id", "embedding", n_cells=N_CELLS, nprobe=N_PROBE,
            m=PQ_M, k=PQ_K, coarse=coarse, codebooks=pqcb, entries=entries,
            broadcast_query_luts=True)

    def _batch(self, batch: int) -> DataFrame:
        return self.queries.filter(F.col("batch") == batch)

    def _answers(self, queries: DataFrame) -> dict[int, list]:
        got: dict[int, list] = {}
        for q, n in _topk(self._pairs(queries)).collect():
            got.setdefault(q, []).append(n)
        return got

    def _ok(self, got: dict[int, list], want) -> bool:
        """Exactly k corpus ids for every query asked, and no other."""
        return (set(got) == set(want)
                and all(len(v) == gen.CORPUS_K and set(v) <= self.ids
                        for v in got.values()))

    def query(self, spark, batch: int) -> tuple[float, float, bool]:
        """One query batch; returns (wall, cpu) seconds and whether the
        output check passed."""
        with Stopwatch() as sw:
            got = self._answers(self._batch(batch))
        lo = 1_000_000_000 + batch * gen.QUERY_BATCH
        self.hits += sum(len(set(v) & self.truth.get(q, set()))
                         for q, v in got.items())
        self.asked += gen.QUERY_BATCH
        return sw.wall, sw.cpu, self._ok(got, range(lo, lo + gen.QUERY_BATCH))

    def recall(self) -> tuple[float, bool]:
        """Recall@k over every batch answered so far, and whether it
        clears the floor."""
        r = self.hits / (gen.CORPUS_K * self.asked)
        return r, r >= MIN_RECALL

    def traced_index(self, spark, tr) -> dict:
        t = _Traced(tr)
        with tr.span("traced_index"):
            t.build("operators.similarity", self._index_calls)
        t.add("operators.similarity.build_s",
              tr.total("operators.similarity.build"))
        return t.counts

    def traced_pass(self, spark, tr, batch) -> dict:
        t = _Traced(tr)
        with tr.span("traced_pass"):
            pairs = self._pairs(self._batch(batch))
            t.exec("operators.similarity", pairs)
            t.add("operators.similarity.candidates_per_query",
                  pairs.count() / gen.QUERY_BATCH)
        return t.counts


# ----------------------------------------------------------------------
# scheduled_day
# ----------------------------------------------------------------------

class ScheduledDay:
    """One scheduled run of the user's job: the linkage batch, then the
    daily QA suite on the destination export. One pass is both."""

    name = "scheduled_day"

    def __init__(self, work: str, seed: int, scale: float):
        self.linkage = LinkageBatch(work, seed, scale)
        self.qa = QaDaily(work, seed, scale)
        self.sizes = {**self.linkage.sizes, **self.qa.sizes}

    @property
    def quality(self) -> dict | None:
        return self.linkage.quality

    def first_read(self, spark) -> None:
        self.linkage.first_read(spark)
        self.qa.first_read(spark)

    def run_pass(self, spark, k) -> tuple[float, float]:
        """One scheduled day; returns (wall, cpu) seconds."""
        a, b = self.linkage.run_pass(spark, k), self.qa.run_pass(spark, k)
        return a[0] + b[0], a[1] + b[1]

    def check(self, spark, k) -> bool:
        ok = self.linkage.check(spark, k)
        return self.qa.check(spark, k) and ok

    def traced_pass(self, spark, tr, k) -> dict:
        counts = self.linkage.traced_pass(spark, tr, k)
        for key, v in self.qa.traced_pass(spark, tr, k).items():
            counts[key] = counts.get(key, 0) + v
        return counts


WORKLOADS = {w.name: w for w in (ScheduledDay, CorpusSearch)}

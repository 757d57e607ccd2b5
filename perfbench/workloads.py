"""The benchmark workloads.

Each workload builds its inputs from the seed in ``setup`` (timed and
reported as ``setup_s``), loads or computes the expected outputs in
``reference`` (once, untimed, not part of ``setup_s``), runs one
closed-loop pass per ``run`` call with a fresh plan, and checks the pass's
outputs in ``check``. ``prepare`` runs before every pass, untimed, and puts
the output directories (and for ``validate_pages`` the prior store) back
into their starting state.

Sizes are chosen so that a run fits the benchmark's time budget on
``local[4]``; NOTES.md says how they relate to the sizes the workloads were
first measured at.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import functions as F

from validate_xml_rust_spark import ckpt, pipeline
from validate_xml_rust_spark.operators import orchestrate, resume, summary
from validate_xml_rust_spark.operators.validate import ValidationResult, validate
from validate_xml_rust_spark.sources import pages as pages_src
from validate_xml_rust_spark.sources import scan
from validate_xml_rust_spark.sources.corpus import prose_documents
from validate_xml_rust_spark.specs import Constraint, Spec, SpecRegistry

PINS = Path(__file__).with_name("pins.json")
N_FILES = 8  # parquet files per generated snapshot
STATUSES = ("valid", "invalid", "error", "skipped")


def _no_span(_name):
    return contextlib.nullcontext()


def digest(df, cols: list[str]) -> int:
    """Order-free digest of the multiset of ``cols`` tuples: bit_xor of
    xxhash64 over (tuple, multiplicity), so equal rows cannot cancel."""
    g = df.groupBy(*cols).count()
    row = g.agg(F.bit_xor(F.xxhash64(*cols, "count")).alias("d")).collect()[0]
    return int(row["d"] or 0)


def verdict_digest(verdicts) -> tuple[int, dict[str, int]]:
    """``digest`` of (url, status, error_count) plus the per-status row
    counts, in one pass (the per-status digests xor together)."""
    cols = ["url", "status", "error_count"]
    rows = (
        verdicts.groupBy(*cols).count()
        .groupBy("status")
        .agg(F.sum("count").alias("n"), F.bit_xor(F.xxhash64(*cols, "count")).alias("d"))
        .collect()
    )
    d = 0
    for r in rows:
        d ^= int(r["d"])
    got = {r["status"]: int(r["n"]) for r in rows}
    return d, {s: got.get(s, 0) for s in STATUSES}


def dir_bytes(*dirs: Path) -> int:
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _rm(*dirs: Path) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def load_pins() -> dict:
    return json.loads(PINS.read_text()) if PINS.exists() else {}


# the CLI's built-in spec, restated: the incremental part of
# ``validate_pages`` runs under it, and its reference verdicts come from
# one plain ``validate()`` under it
CLI_REGISTRY = SpecRegistry().add(
    Spec(
        "webpage-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
            Constraint("html_utf8", "html", "utf8", severity="error"),
            Constraint("html_len", "html", "length", {"lo": 1, "hi": 10_000_000}),
            Constraint("lang_enum", "lang", "isin", {"values": pages_src.LANGS}),
        ),
    ),
    route_keys=pages_src.LANGS,
)

# fingerprint of the incremental part: every column a CLI_REGISTRY verdict
# reads besides the url key (html, lang), plus the text whose revision
# marks a page as changed. The CLI's own ``--prior`` mode fingerprints
# only (text, lang) and so carries stale verdicts across rows that differ
# in html alone (see NOTES.md); the benchmark does not run that path.
DELTA_FP_COLS = ["text", "lang", "html"]
STORE_COLS = ["url", "content_fp", "spec_id", "status", "error_count"]

# the spec of the library full-suite run
FULL_REGISTRY = SpecRegistry().add(
    Spec(
        "webpage-v1",
        (
            Constraint("url_not_null", "url", "not_null"),
            Constraint("url_format", "url", "regex", {"pattern": r"^https?://.*"}),
            Constraint(
                "warc_ts_range", "warc_ts", "range",
                {"lo": "2025-01-01 00:00:00", "hi": "2026-01-01 00:00:00"},
            ),
            Constraint("html_utf8", "html", "utf8", severity="error"),
            Constraint("html_len", "html", "length", {"lo": 1, "hi": 100_000}),
            Constraint("lang_enum", "lang", "isin", {"values": pages_src.LANGS}),
            Constraint("uq_url", "url", "unique"),
            Constraint(
                "hq_host", "host", "host_quality", {"min_mean_quality": 0.6, "min_docs": 10}
            ),
        ),
    ),
    route_keys=pages_src.LANGS,
)


class Workload:
    name = ""
    docs = 0  # input documents per pass

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.out = self.work / "out"

    def write_labels(self) -> dict[str, str]:
        """Output dir -> span name for the traced parquet writer."""
        return {}

    def prepare(self) -> None:
        _rm(self.out)

    def written_bytes(self) -> int:
        return dir_bytes(self.out)

    def counts(self, result: dict) -> dict[str, float]:
        """Per-layer counts taken from a pass's result (traced run)."""
        return {}


class ValidatePages(Workload):
    """The validation engine on a page snapshot, two ways per pass:

    1. the library's full-suite run over the day-1 snapshot: scan →
       partition id → ``validate_full`` (content-routed row checks +
       ``unique(url)`` + ``host_quality(host)``) → eager checkpoint →
       verdict and violation writes → summary → manifest;
    2. the recurring-crawl run over the day-2 snapshot against the
       verdict store built from day 1 (a seeded ~5% of pages carry
       changed text), with the steps of the CLI's ``--prior`` mode:
       ``incremental_verdicts`` (fingerprint, (url, fp) reuse join,
       re-validation of the delta) → eager checkpoint → status aggregate
       → verdict and violation writes → manifest → store rewrite. The
       store is rewritten in place, so the pristine one is restored,
       untimed, before every pass.
    """

    name = "validate_pages"
    pages = 60_000
    docs = 2 * pages  # each pass validates both snapshots

    def setup(self) -> None:
        spark = self.spark
        self.day1 = self.work / "day1"
        self.day2 = self.work / "day2"
        self.pristine = self.work / "prior_pristine"
        self.store = self.work / "prior"
        pages_src.pages(spark, self.pages, N_FILES).write.mode("overwrite").parquet(
            str(self.day1)
        )
        spark.read.parquet(str(self.day1)).withColumn(
            "text",
            F.when(self._changed(), F.concat(F.col("text"), F.lit(f" [rev {self.seed}]")))
            .otherwise(F.col("text")),
        ).write.mode("overwrite").parquet(str(self.day2))
        _rm(self.pristine)
        self._incremental(self.day1, self.pristine)

    def _changed(self):
        """The seeded ~5% of day-1 pages whose text changes on day 2."""
        key = F.xxhash64(F.coalesce("url", F.lit("")), F.coalesce("text", F.lit("")),
                         F.lit(self.seed))
        return F.pmod(key, F.lit(100)) < 5

    def _incremental(self, snapshot: Path, store: Path, out: Path | None = None,
                     run_id: str = "") -> dict[str, int]:
        """Validate ``snapshot`` against the verdict store at ``store``
        (empty if missing), write verdicts, violations and a manifest
        under ``out`` (if given), then replace the store with this run's
        verdicts plus the prior rows of urls absent from the snapshot.
        Returns the per-status counts."""
        spark = self.spark
        df = pages_src.with_partition_id(scan.read_pages_dir(spark, str(snapshot)), 32)
        if store.exists():
            prior = spark.read.parquet(str(store)).select(*STORE_COLS)
        else:
            prior = spark.createDataFrame(
                [], "url string, content_fp string, spec_id string, "
                    "status string, error_count int",
            )
        inc = resume.incremental_verdicts(
            df, prior, spark, CLI_REGISTRY, DELTA_FP_COLS, full_output=True,
            route_col="lang", route_mode="content",
        )
        ck, ck_ids = ckpt.eager_checkpoint(inc)
        # the CLI's status aggregate, re-validated count included
        row = ck.agg(
            *[F.sum((F.col("status") == s).cast("long")).alias(s) for s in STATUSES],
            F.sum(F.col("revalidated").cast("long")).alias("revalidated"),
        ).collect()[0]
        if out is not None:
            ck.drop("violation_entries").write.mode("overwrite").parquet(str(out / "verdicts"))
            ValidationResult(ck.filter(F.col("revalidated"))).violations().write.mode(
                "overwrite"
            ).parquet(str(out / "violations"))
            resume.write_manifest(resume.partition_metrics(ck, run_id), str(out / "manifest"))
        # NULL-url prior rows can never match a reuse join; they are dropped
        keep_prior = prior.filter(F.col("url").isNotNull()).join(
            df.select("url").distinct(), "url", "left_anti"
        )
        new_store, store_ids = ckpt.eager_checkpoint(
            ck.select(*STORE_COLS).unionByName(keep_prior).dropDuplicates(["url", "content_fp"])
        )
        new_store.write.mode("overwrite").parquet(str(store))
        ckpt.release_blocks(spark.sparkContext, store_ids)
        ckpt.release_blocks(spark.sparkContext, ck_ids)
        return {s: int(row[s] or 0) for s in STATUSES}

    def reference(self) -> None:
        spark = self.spark
        self.want_full = load_pins().get(self.name)
        d1 = spark.read.parquet(str(self.day1))
        # a NULL url never matches the store, so those rows re-validate too
        self.want_revalidated = d1.filter(self._changed() | F.col("url").isNull()).count()
        ref = validate(
            spark.read.parquet(str(self.day2)), spark, CLI_REGISTRY,
            route_mode="content", partition_col=None,
        ).verdicts
        self.want_digest, self.want_status = verdict_digest(ref)
        self.want_rc = summary.exit_code(self.want_status)

    def write_labels(self) -> dict[str, str]:
        return {
            str(self.out / "full" / "verdicts"): "write.verdicts",
            str(self.out / "full" / "violations"): "write.violations",
            str(self.out / "delta" / "verdicts"): "write.verdicts",
            str(self.out / "delta" / "violations"): "write.violations",
            str(self.store): "write.store",
        }

    def prepare(self) -> None:
        _rm(self.out, self.store)
        shutil.copytree(self.pristine, self.store)

    def written_bytes(self) -> int:
        return dir_bytes(self.out, self.store)

    def run(self, i: int, span=_no_span) -> dict:
        spark = self.spark
        out = self.out / "full"
        df = scan.read_pages_dir(spark, str(self.day1))
        df = pages_src.with_partition_id(df, 32).withColumn(
            "host", F.parse_url(F.col("url"), F.lit("HOST"))
        )
        res = orchestrate.validate_full(df, spark, FULL_REGISTRY, route_mode="content")
        ck, ck_ids = ckpt.eager_checkpoint(res.row_result.verdicts)
        full = orchestrate.FullValidationResult(
            ValidationResult(ck), res.table_violations, res.ckpt_block_ids
        )
        ck.drop("violation_entries").write.mode("overwrite").parquet(str(out / "verdicts"))
        full.all_violations().write.mode("overwrite").parquet(str(out / "violations"))
        with span("summary.summarize"):
            srow = summary.summarize(ck).collect()[0].asDict()
        resume.write_manifest(
            resume.partition_metrics(ck, f"perfbench-{i}"), str(out / "manifest")
        )
        full.release()
        ckpt.release_blocks(spark.sparkContext, ck_ids)

        inc = self._incremental(self.day2, self.store, self.out / "delta", f"perfbench-{i}")
        return {"summary": srow, "rc": summary.exit_code(inc)}

    def observe(self, result: dict) -> dict:
        """What the pass produced, as compared against the reference."""
        spark = self.spark
        full = self.out / "full"
        viol = spark.read.parquet(str(full / "violations"))
        manifest = spark.read.parquet(str(full / "manifest"))
        v = spark.read.parquet(str(self.out / "delta" / "verdicts"))
        d, status = verdict_digest(v)
        row = v.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("revalidated").cast("long")).alias("r"),
        ).collect()[0]
        return {
            "full": {
                "status": {s: int(result["summary"][s]) for s in STATUSES},
                "violations": {
                    r["constraint_id"]: int(r["count"])
                    for r in viol.groupBy("constraint_id").count().collect()
                },
                "digest": verdict_digest(spark.read.parquet(str(full / "verdicts")))[0],
                "manifest_rows": int(manifest.agg(F.sum("n_rows")).collect()[0][0]),
            },
            "delta": {
                "rc": result["rc"],
                "status": status,
                "digest": d,
                "revalidated": int(row["r"] or 0),
                "rows": int(row["n"]),
            },
        }

    def check(self, result: dict) -> list[str]:
        got = self.observe(result)
        if self.want_full is None:
            return ["no pinned values for validate_pages"]
        want_delta = {
            "rc": self.want_rc,
            "status": self.want_status,
            "digest": self.want_digest,
            "revalidated": self.want_revalidated,
            "rows": self.pages,
        }
        return [
            p
            for part, want in (("full", self.want_full), ("delta", want_delta))
            for k in want
            for p in _diff(f"{part} {k}", got[part].get(k), want[k])
        ]

    def counts(self, result: dict) -> dict[str, float]:
        got = self.observe(result)["delta"]
        return {
            "resume.revalidated_rows": got["revalidated"],
            "resume.reuse_ratio": 1 - got["revalidated"] / max(got["rows"], 1),
        }


class CurateDolmaDsir(Workload):
    """``curate`` with the Dolma preset plus DSIR selection over prose
    documents with planted near-duplicates. The seed picks one of
    ``VARIANTS`` input variants (near-duplicate plants and DSIR target
    slice); each variant's outputs are pinned in pins.json."""

    name = "curate_dolma_dsir"
    base_docs = 2_000
    VARIANTS = 16
    PLANT_PCT = 5  # share of docs copied with one word replaced
    TARGET_PCT = 2  # share of docs forming the DSIR target

    def setup(self) -> None:
        spark = self.spark
        self.variant = self.seed % self.VARIANTS
        v = self.variant
        self.corpus = self.work / "corpus"
        self.target = self.work / "target"
        base = prose_documents(spark, self.base_docs, N_FILES)

        def first(n: int, salt: int):
            # exactly n docs, picked by a seeded hash order
            return base.orderBy(F.xxhash64("doc_id", F.lit(v), F.lit(salt)), "doc_id").limit(n)

        # copies with the first content word (5th token) replaced
        plants = first(self.base_docs * self.PLANT_PCT // 100, 1).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.regexp_replace(
                "text", r"^((?:\S+ ){4})\S+",
                F.concat(F.lit("$1z"), F.col("doc_id").cast("string")),
            ).alias("text"),
        )
        base.unionByName(plants).repartition(N_FILES, "doc_id").write.mode(
            "overwrite"
        ).parquet(str(self.corpus))
        first(self.base_docs * self.TARGET_PCT // 100, 2).select("text").write.mode(
            "overwrite"
        ).parquet(str(self.target))
        corpus = spark.read.parquet(str(self.corpus))
        self.docs = corpus.count()

    def reference(self) -> None:
        self.want = load_pins().get(self.name, {}).get(str(self.variant))

    def write_labels(self) -> dict[str, str]:
        return {str(self.out / "kept"): "write.outputs"}

    def run(self, i: int, span=_no_span) -> dict:
        spark = self.spark
        res = pipeline.curate(
            spark.read.parquet(str(self.corpus)), spark,
            **pipeline.preset_kwargs(
                "dolma",
                dsir_target=spark.read.parquet(str(self.target)),
                dsir_k=self.base_docs // 2,
            ),
        )
        res.kept.write.mode("overwrite").parquet(str(self.out / "kept"))
        steps = res.report["steps"]
        res.release()
        return {"steps": steps}

    def observe(self, result: dict) -> dict:
        kept = self.spark.read.parquet(str(self.out / "kept"))
        return {
            "steps": [[s["step"], s["rows_in"], s["rows_out"]] for s in result["steps"]],
            "kept": kept.count(),
            "kept_digest": digest(kept, ["doc_id"]),
        }

    def check(self, result: dict) -> list[str]:
        got = self.observe(result)
        if self.want is None:
            return [f"no pinned values for curate_dolma_dsir variant {self.variant}"]
        return [p for k in self.want for p in _diff(k, got[k], self.want[k])]

    def counts(self, result: dict) -> dict[str, float]:
        return {f"pipeline.rows_out.{s['step']}": s["rows_out"] for s in result["steps"]}


WORKLOADS = {w.name: w for w in (ValidatePages, CurateDolmaDsir)}

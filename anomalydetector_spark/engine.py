"""Check-suite runner: pages table in → verdicts + violations + drift out.

This is the engine analog of the reference's batch pipeline
(aml_component/invoker.py:38-90 — load → validation gauntlet → detector →
sink), restructured for Spark:

* the all-or-nothing ``raise`` becomes per-partition verdict rows,
* the per-column Python loop becomes ONE grouped pandas drift pass per
  partition (drift.fused_drift): the persisted cube, cogrouped with the
  profile's per-window distinct-key counts, yields every stat series
  (scalars, lang/length shape, distinct urls) and their SR scores in one
  worker call — one group is one partition's cube slice, windows ×
  distinct text lengths × langs rows, never input-sized,
* the whole verdict suite is compiled onto TWO shared scans of the input
  (plans/fused.py): a counts cube and a salted url profile — every
  verdict frame and every stat series is a rollup of one of them, so
  adding a check never adds a scan; the verdict path itself is JVM-only
  (no Python worker runs for any verdict action).

The runner itself never calls ``.collect()`` on data-sized frames — only
verdict/stat frames (bounded by partitions × checks) are ever gathered.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.drift import drift_verdicts, fused_drift
from anomalydetector_spark.kernel.sr import SrParams
from anomalydetector_spark.operators import checks as C
from anomalydetector_spark.operators import errors as E
from anomalydetector_spark.plans import fused
from anomalydetector_spark.stats import compute_window_stats  # noqa: F401 (public API)

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


@dataclass
class ValidationConfig:
    window_duration: str = "1 day"
    partition_by: str | None = None  # column name for per-partition verdicts
    langs: tuple[str, ...] = ("en", "de", "fr", "zh", "es")
    sr: SrParams = field(default_factory=SrParams)
    min_points: int = 12
    unique_key: str = "url"
    batch_size: int = 0
    # opt-in: the one check pair that must read the ``html`` binary /
    # full ``text`` bytes (north-rule byte-identity invariant). Off by
    # default so the standard suite never scans html.
    verify_text_extraction: bool = False
    # opt-in: Unicode normalization-form check (operators/normalize) —
    # like verify_text_extraction it must move full text bytes (one
    # Arrow round-trip for the pandas normalizer), so off by default.
    # Set to 'NFC' / 'NFKC' / 'NFD' / 'NFKD' to enable.
    unicode_form: str | None = None
    # schema-evolution check: expected column → Spark simple type; catches
    # the silent type change P3's presence check misses. None = off.
    expected_schema: dict | None = None
    # shape drift: per-window distribution distances vs the previous
    # window, both derived from the counts cube (zero extra input
    # scans) and SR-scored like every scalar stat — a shape shift can
    # hide from each per-category fraction series and from the length
    # quantile scalars:
    #   * lang_js_divergence — Jensen-Shannon of the lang distribution,
    #   * len_hist_emd — binned earth-mover's distance of the text
    #     LENGTH histogram (log2 bins, exact integer arithmetic via
    #     operators/divergence.numeric_drift_from_bin_counts),
    #   * len_hist_psi — PSI of the same histogram (complementary lens:
    #     EMD sees mass TRAVEL distance, PSI sees log-ratio
    #     reweighting; operators/divergence.psi_chi2_from_bin_counts).
    shape_drift: bool = True
    # user-defined constraints (operators/asserts.py). Row asserts ride
    # the fused cube scan and the shared violation-extraction scan; all
    # agg asserts together add exactly ONE extra aggregation pass.
    asserts: tuple = ()  # tuple[RowAssert, ...]
    agg_asserts: tuple = ()  # tuple[AggAssert, ...]
    # dimension-join ladder for the referential check
    # (operators/referential.dim_join): 'broadcast' (default — the north
    # rule's shape, dims small enough to ship to every task) / 'auto'
    # (Catalyst + AQE pick from runtime sizes) / 'shuffle' (dims that
    # can never broadcast) / 'shuffle_salted' (shuffle + explicit
    # hot-domain spreading over ref_salts tasks).
    ref_strategy: str = "broadcast"
    ref_salts: int = 16
    # generic functional dependencies: (determinant, dependent) column
    # pairs — every non-null determinant value must map to exactly one
    # dependent value (checks.check_functional_dependency). Each pair
    # costs ONE hash-aggregate scan per run: the (rare) violating keys
    # are persisted, the per-partition verdict rides the shared rollup
    # projection as a broadcast count of that cached frame, and the same
    # frame is broadcast back onto the shared violation-extraction scan,
    # so FD violations surface as full rows in row_status/violations
    # like every other row-addressable check.
    functional_deps: tuple = ()  # tuple[tuple[str, str], ...]
    # freshness gate on warc_ts: (max_lag_seconds, reference_ts). The
    # reference instant is EXPLICIT (ISO string) so verdicts stay
    # retry-stable and oracle-able; None = check off. One extra
    # (partition, max(ts)) aggregation pass over pruned columns.
    freshness: tuple | None = None  # (int, str)
    # JSON payload schema over a string column:
    # {"column": <name>, "keys": {<json_key>: <spark_type>, ...}}.
    # The per-row reason predicate is pure codegen, so violations ride
    # the SHARED one-scan extraction (and the quarantine split) like
    # row asserts; the verdict costs one extra pruned aggregation.
    json_schema: dict | None = None
    # CUSUM second opinion on every stat series: (k, h) in σ units
    # (operators/trend.series_cusum). SR is a SALIENCY detector — a
    # small sustained level shift that the spectral residual smooths
    # away accumulates linearly in the CUSUM walk and alarms, with a
    # changepoint estimate. Rides the same persisted bounded stat-series
    # frame as the SR scorer (zero extra input scans); None = off.
    cusum: tuple | None = None  # (float k, float h)
    # optional in-control cutoff for the CUSUM reference: when set (ISO
    # timestamp string), mu/sigma freeze from the stat windows STRICTLY
    # BEFORE this instant (trend.cusum_reference) and the walk runs in
    # reference mode — the production setup: an anomalous present can
    # no longer inflate sigma and mask itself. None = standardize
    # against each series' own full history (the exploratory default).
    cusum_reference_before: str | None = None
    # EWMA control chart on every stat series: (lambda, L). The
    # small-shift lens between Shewhart and CUSUM (operators/trend.
    # ewma_chart); rides the same persisted stat-series frame. None =
    # off.
    ewma: tuple | None = None  # (float lam, float L)
    # drift drill-down: when shape_drift is on and this is > 0, emit
    # per-category TVD attribution (operators/divergence.
    # divergence_attribution) for every SR-FLAGGED lang_js_divergence
    # window — the "WHICH language moved" explanation. Rides the same
    # cube-derived lang counts frame; 0 = off.
    attribution_top_n: int = 0


@dataclass
class ValidationResult:
    verdicts: DataFrame  # all hard-check verdicts, unioned
    violations: DataFrame  # all row-addressable violations, unioned
    stat_series: DataFrame  # long-format per-window stats
    drift_scored: DataFrame  # SR-scored stat series
    drift_verdicts: DataFrame  # per-(partition, stat) pass/fail
    # input rows + violated_checks array + validation_status — the
    # quarantine split (operators/quarantine.py). Shares the violation
    # extraction's one-scan DAG (so it covers the row-addressable checks:
    # null ts, duplicate key, dangling dim, row asserts — not the opt-in
    # html byte-identity pair, which scans separately by design); sink
    # clean+quarantined in one pass with quarantine.write_split.
    row_status: DataFrame | None = None
    # CUSUM second opinion (cfg.cusum): per-window walks + per-series
    # summaries with changepoint estimates. None when off.
    cusum_scored: DataFrame | None = None
    cusum_verdicts: DataFrame | None = None
    # EWMA chart rows (cfg.ewma). None when off.
    ewma_scored: DataFrame | None = None
    # cross-lens agreement (drift.lens_consensus): populated whenever
    # at least one of cusum/ewma is configured beside SR. None when
    # neither is.
    lens_consensus: DataFrame | None = None
    # per-category TVD shares for SR-flagged lang-shape windows
    # (cfg.attribution_top_n). None when off.
    drift_attribution: DataFrame | None = None
    # persisted frames, in a fixed order: cube, profile, stat_series,
    # drift_scored, then one violating-key frame per functional
    # dependency; incremental_validate appends the verdicts it persists.
    # perfbench reads [:4] to fill each layer.
    cached: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.cached:
            df.unpersist()


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def run_validation(
    pages: DataFrame,
    domains: DataFrame | None = None,
    config: ValidationConfig | None = None,
) -> ValidationResult:
    cfg = config or ValidationConfig()
    C.validate_batch_size(cfg.batch_size, cfg.min_points)

    keyed = fused.keyed_input(pages, cfg.window_duration, cfg.partition_by)
    if domains is not None and "domain" not in pages.columns:
        keyed = keyed.withColumn(
            "domain", F.regexp_extract("url", r"^https?://([^/]+)/", 1)
        )

    from anomalydetector_spark.operators import asserts as A

    row_asserts = tuple(cfg.asserts)
    agg_asserts = tuple(cfg.agg_asserts)
    A._check_names_unique(row_asserts + agg_asserts)
    fd_names = [
        f"fd_{C.fd_label(d)}_{C.fd_label(p)}" for d, p in cfg.functional_deps
    ]
    if len(set(fd_names)) != len(fd_names):
        dupes = sorted({n for n in fd_names if fd_names.count(n) > 1})
        raise ValueError(
            f"duplicate functional_deps check name(s) {dupes} — each "
            "(determinant, dependent) pair must be unique (a repeated "
            "pair would double-tag every violating row)"
        )

    scans = fused.build_fused_scans(
        keyed,
        ref_dim=domains,
        unique_key=cfg.unique_key,
        extra_cube_aggs=A.row_assert_counts(row_asserts) or None,
        ref_strategy=cfg.ref_strategy,
        ref_salts=cfg.ref_salts,
    )
    cube = scans.cube.persist()
    profile = scans.profile.persist()

    # per-partition scalars — every cheap verdict is a projection of this
    # one tiny frame (the cube rollup), evaluated once per action at most
    roll = fused.partition_rollup(cube)

    # empty input must still fail min-row-count (reference contract)
    roll = fused.seeded_rollup(roll)

    # Every rollup-derived verdict (min-rows, not-null, uniqueness,
    # referential, row asserts) is ONE projection of ONE enriched rollup:
    # an inline(array(<struct per check>)) generator. Compared to one
    # frame per check unioned (round ≤2 shape), the rollup aggregation
    # executes once per action instead of once per check, and the
    # verdicts plan has one branch instead of N — Catalyst optimization +
    # codegen compile are paid per FRESH plan (every run_validation call
    # persists new scans), so plan size is real per-run wall time, not
    # just driver elegance (measured: verdicts action 5.4s → see
    # BENCH.md round-3 note).
    uniq_name = f"unique_{cfg.unique_key}"
    dup_counts = fused.per_partition_dup_counts(profile).withColumnRenamed(
        "violation_count", "_dup_rows"
    )
    enriched = roll.join(dup_counts, "partition_key", "left")

    def _verdict_struct(name: str, viol: Column, message: str) -> Column:
        """The _verdict_from_violation_count contract as a struct."""
        return F.struct(
            F.lit(name).alias("check_name"),
            (viol == 0).alias("passed"),
            F.when(viol > 0, F.lit(message)).alias("error_message"),
            viol.cast("long").alias("violation_count"),
        )

    _short = F.col("rows_scanned") < cfg.min_points
    verdict_structs = [
        F.struct(
            F.lit("min_row_count").alias("check_name"),
            (~_short).alias("passed"),
            F.when(_short, F.lit(E.NOT_ENOUGH_POINTS.format(cfg.min_points))).alias(
                "error_message"
            ),
            F.when(_short, F.col("rows_scanned"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("violation_count"),
        ),
        _verdict_struct(
            "not_null_warc_ts", F.col("null_ts"), E.INVALID_TIMESTAMPS
        ),
        _verdict_struct(
            uniq_name,
            F.coalesce(F.col("_dup_rows"), F.lit(0)),
            E.DUPLICATE_KEY.format(cfg.unique_key),
        ),
    ]
    for i, a in enumerate(row_asserts):
        v = F.coalesce(F.col(f"_assert_{i}"), F.lit(0))
        budget = F.col("rows_scanned") * F.lit(a.max_violation_fraction)
        verdict_structs.append(
            F.struct(
                F.lit(f"assert_{a.name}").alias("check_name"),
                (v <= budget).alias("passed"),
                F.when(
                    v > budget,
                    F.lit(A.ROW_ASSERT_FAILED.format(a.name, a.expr)),
                ).alias("error_message"),
                v.cast("long").alias("violation_count"),
            )
        )
    if domains is not None:
        verdict_structs.append(
            _verdict_struct(
                "ref_domain",
                F.col("dangling"),
                E.DANGLING_REFERENCE.format("domain", "domain"),
            )
        )
    # functional dependencies: ONE hash-aggregate scan per pair fills a
    # persisted frame of the (rare) violating determinant keys; both the
    # per-partition verdict (a broadcast count of that frame riding the
    # shared rollup projection) and the row tags below reuse the cache —
    # no second pass over the input per pair.
    fd_bad: list[DataFrame] = []
    for i, (det, dep) in enumerate(cfg.functional_deps):
        fd = C.check_functional_dependency(
            keyed, det, dep, partition_by=F.col("partition_key")
        )
        det_cols = C.fd_cols(det)
        bad = fd.violations.select(
            "partition_key",
            *[
                F.col(c).alias(f"_fd_k_{i}_{j}")
                for j, c in enumerate(det_cols)
            ],
        ).persist()
        fd_bad.append(bad)
        counts = bad.groupBy("partition_key").agg(
            F.count(F.lit(1)).alias(f"_fd_viol_{i}")
        )
        enriched = enriched.join(F.broadcast(counts), "partition_key", "left")
        verdict_structs.append(
            _verdict_struct(
                f"fd_{C.fd_label(det)}_{C.fd_label(dep)}",
                F.coalesce(F.col(f"_fd_viol_{i}"), F.lit(0)),
                E.FD_VIOLATION.format(C.fd_label(det), C.fd_label(dep)),
            )
        )
    rollup_verdicts = enriched.select(
        "partition_key", "rows_scanned", F.inline(F.array(*verdict_structs))
    ).select(
        "check_name",
        "partition_key",
        "passed",
        "error_message",
        "violation_count",
        "rows_scanned",
    )

    verdict_frames = [
        C.check_column_presence(pages, PAGES_COLUMNS).verdicts,
        rollup_verdicts,
    ]
    if cfg.expected_schema:
        verdict_frames.append(
            C.check_schema_types(pages, cfg.expected_schema).verdicts
        )
    if cfg.freshness:
        max_lag, ref_ts = cfg.freshness
        verdict_frames.append(
            C.check_freshness(
                pages, "warc_ts", int(max_lag), reference_ts=ref_ts,
                partition_by=cfg.partition_by,
            ).verdicts
        )
    if cfg.json_schema:
        verdict_frames.append(
            C.check_json_schema(
                pages,
                cfg.json_schema["column"],
                dict(cfg.json_schema["keys"]),
                partition_by=cfg.partition_by,
            ).verdicts
        )
    if agg_asserts:
        # all agg-assert metrics share ONE extra aggregation pass
        verdict_frames.append(
            A.check_agg_asserts(
                keyed, agg_asserts, partition_by=F.col("partition_key")
            ).verdicts
        )

    # violation ROWS must come from the input — extraction is inherent,
    # but all row-addressable checks share ONE scan: broadcast-join the
    # (small) duplicate-key and dimension sets, tag each row with every
    # check it violates, explode. The DAG lives apart from the verdicts
    # and is materialized only when the caller sinks violations.
    dups = fused.dup_keys_from_profile(profile).select(
        F.col("key"), F.lit(True).alias("_is_dup")
    )
    tagged = keyed.join(
        F.broadcast(dups),
        fused.profile_key_col(keyed[cfg.unique_key]) == dups["key"],
        "left",
    )
    tags = [
        F.when(F.col("warc_ts").isNull(), F.lit("not_null_warc_ts")),
        F.when(F.col("_is_dup"), F.lit(uniq_name)),
        *A.row_assert_tags(row_asserts),
    ]
    if cfg.json_schema:
        # pure-codegen per-row predicate — rides the shared scan free
        tags.append(
            F.when(
                C.json_schema_reason(
                    cfg.json_schema["column"], dict(cfg.json_schema["keys"])
                ).isNotNull(),
                F.lit(f"json_schema_{cfg.json_schema['column']}"),
            )
        )
    for i, (det, dep) in enumerate(cfg.functional_deps):
        # reuse the persisted violating-key frame from the verdict pass;
        # the join is per (partition_key, determinant tuple) because a
        # key may violate in one partition and not another
        det_cols = C.fd_cols(det)
        key_aliases = [f"_fd_k_{i}_{j}" for j in range(len(det_cols))]
        bad = fd_bad[i].select(
            F.col("partition_key").alias(f"_fd_pk_{i}"),
            *key_aliases,
            F.lit(True).alias(f"_fd_hit_{i}"),
        )
        cond = F.col("partition_key") == F.col(f"_fd_pk_{i}")
        for c, a in zip(det_cols, key_aliases):
            cond = cond & (F.col(c) == F.col(a))
        tagged = tagged.join(F.broadcast(bad), cond, "left").drop(
            f"_fd_pk_{i}", *key_aliases
        )
        tags.append(
            F.when(
                F.col(f"_fd_hit_{i}"),
                F.lit(f"fd_{C.fd_label(det)}_{C.fd_label(dep)}"),
            )
        )
    if domains is not None:
        from anomalydetector_spark.operators.referential import dim_join

        tagged = dim_join(
            tagged,
            domains,
            "domain",
            how="left",
            strategy=cfg.ref_strategy,
            salts=cfg.ref_salts,
            salt_on=F.col(cfg.unique_key),
        )
        tags.append(
            F.when(
                F.col("domain").isNotNull() & F.col("_known").isNull(),
                F.lit("ref_domain"),
            )
        )
    hit = F.filter(F.array(*tags), lambda t: t.isNotNull())
    violations = tagged.select(
        F.explode(hit).alias("check_name"), "partition_key", cfg.unique_key
    )

    # quarantine view over the SAME tagged frame: every input row with
    # the sorted array of checks it violates + clean/quarantined status
    from anomalydetector_spark.operators import quarantine as Q

    base_cols = [c for c in pages.columns if c in tagged.columns]
    row_status = tagged.select(
        *base_cols,
        "partition_key",
        F.array_sort(hit).alias(Q.VIOLATED_COL),
    ).withColumn(
        Q.STATUS_COL,
        F.when(F.size(Q.VIOLATED_COL) > 0, F.lit(Q.QUARANTINED)).otherwise(
            F.lit(Q.CLEAN)
        ),
    )

    if cfg.verify_text_extraction:
        # byte-identity invariant (north rule): text == extract_text(html)
        # per row, and rows sharing a url agree on text bytes. These are
        # the only stages that read ``html``/full ``text``; their scans
        # are separate from the fused cube/profile by design.
        tx = C.check_text_extraction(
            keyed, partition_by=F.col("partition_key"), keep=[cfg.unique_key]
        )
        consistency = C.check_key_text_consistency(
            keyed, key_col=cfg.unique_key, partition_by=F.col("partition_key")
        )
        verdict_frames += [tx.verdicts, consistency.verdicts]
        violations = violations.unionByName(
            tx.violations.select("check_name", "partition_key", cfg.unique_key)
        ).unionByName(
            consistency.violations.select(
                "check_name", "partition_key", cfg.unique_key
            )
        )

    if cfg.unicode_form:
        from anomalydetector_spark.operators.normalize import (
            check_unicode_normalization,
        )

        un = check_unicode_normalization(
            keyed,
            form=cfg.unicode_form,
            partition_by=F.col("partition_key"),
            keep=[cfg.unique_key],
        )
        verdict_frames.append(un.verdicts)
        violations = violations.unionByName(
            un.violations.select("check_name", "partition_key", cfg.unique_key)
        )

    # every drift stat series (scalars, lang/length shape, distinct keys)
    # is derived from the persisted cube + profile and SR-scored in ONE
    # grouped pandas pass per partition; stat_series is the (partition,
    # stat, window, value) projection of the persisted scored frame and
    # reads its cache (a second cache of those columns only adds a job)
    scored = fused_drift(
        cube,
        profile,
        cfg.window_duration,
        cfg.langs,
        cfg.sr,
        shape_drift=cfg.shape_drift,
    ).persist()
    stat_series = scored.select(
        "partition_key", "stat_name", "window_start", "value"
    )
    dverdicts = drift_verdicts(scored)

    cusum_scored = cusum_summary = None
    if cfg.cusum is not None:
        from anomalydetector_spark.operators.trend import (
            cusum_verdicts as _cusum_verdicts,
            series_cusum,
        )

        ck, ch = cfg.cusum
        ref = None
        if cfg.cusum_reference_before is not None:
            from anomalydetector_spark.operators.trend import (
                cusum_reference,
            )

            ref = cusum_reference(
                stat_series.filter(
                    F.col("window_start")
                    < F.lit(cfg.cusum_reference_before).cast("timestamp")
                ),
                ["partition_key", "stat_name"],
                "value",
            )
        cusum_scored = series_cusum(
            stat_series,
            ["partition_key", "stat_name"],
            "window_start",
            "value",
            k=ck,
            h=ch,
            reference=ref,
        )
        cusum_summary = _cusum_verdicts(
            cusum_scored, ["partition_key", "stat_name"], "window_start"
        )

    ewma_scored = None
    if cfg.ewma is not None:
        from anomalydetector_spark.operators.trend import ewma_chart

        lam, big_l = cfg.ewma
        ewma_scored = ewma_chart(
            stat_series,
            ["partition_key", "stat_name"],
            "window_start",
            "value",
            lam=lam,
            L=big_l,
        )

    consensus = None
    if cusum_scored is not None or ewma_scored is not None:
        from anomalydetector_spark.drift import lens_consensus

        consensus = lens_consensus(scored, cusum_scored, ewma_scored)

    attribution = None
    if cfg.shape_drift and cfg.attribution_top_n > 0:
        from anomalydetector_spark.operators.divergence import (
            divergence_attribution,
        )

        lang_counts = (
            cube.filter(F.col("window_start").isNotNull())
            .groupBy(
                "partition_key",
                F.col("window_start").alias("w_start"),
                F.coalesce("lang", F.lit("<null>")).alias("cat"),
            )
            .agg(F.sum("_n").alias("n"))
            .withColumn(
                "w_end",
                F.col("w_start") + F.expr(f"INTERVAL {cfg.window_duration}"),
            )
        )
        flagged = scored.filter(
            (F.col("stat_name") == "lang_js_divergence")
            & F.col("is_anomaly")
        ).select("partition_key", "window_start")
        attribution = divergence_attribution(
            lang_counts,
            part_cols=["partition_key"],
            top_n=cfg.attribution_top_n,
        ).join(
            F.broadcast(flagged), ["partition_key", "window_start"], "left_semi"
        )

    return ValidationResult(
        verdicts=_union(verdict_frames),
        violations=violations,
        stat_series=stat_series,
        drift_scored=scored,
        drift_verdicts=dverdicts,
        row_status=row_status,
        cusum_scored=cusum_scored,
        cusum_verdicts=cusum_summary,
        ewma_scored=ewma_scored,
        lens_consensus=consensus,
        drift_attribution=attribution,
        cached=[cube, profile, stat_series, scored, *fd_bad],
    )

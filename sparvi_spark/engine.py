"""Engine lifecycle API (SURVEY.md §3): the top-level flows a user of the
reference drives over HTTP, as library calls over DataFrames + a StateStore.

Flow parity:
- run_profile       = GET /api/profile      (routes/profiles.py:24-102)
- run_validations   = POST /api/run-validations
                      (routes/validations.py:326-390, 696-856)
- track_schema      = schema-change detection path (app.py:5169-5271)
- run_anomaly_detection = POST .../anomalies/detect
                      (core/anomalies/scheduler.py:30-91)

Where the reference fans out with thread pools (5 tables / 10 rules /
5 configs), every fan-out here is a single Spark job over a keyed
DataFrame — the parallelism is the cluster's, not a driver thread pool.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparvi_spark.functions import ident, local_df, melt_sql
from sparvi_spark.operators.anomalies import detect_anomalies
from sparvi_spark.operators.profile import profile_table
from sparvi_spark.operators.schema_diff import (
    detect_changes,
    snapshot_from_dataframe,
)
from sparvi_spark.operators.trends import profile_trends, retain_latest
from sparvi_spark.operators.validation import Rule, run_rules
from sparvi_spark.session import scoped_caches
from sparvi_spark.sources.state import StateStore


def _utcnow() -> str:
    return _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class Engine:
    def __init__(self, spark: SparkSession, warehouse: str,
                 scale_mode: bool | None = None,
                 state_format: str = "parquet"):
        """``scale_mode=True`` flips every oracle-parity default this
        engine's methods expose to its 100 TB backend in one place —
        sketch distinct counts/percentiles and hash-projection dup
        counts in profiling (one knob, like the reference's
        collection-depth config, core/profiling/collector.py:21-46).
        The mode is stored PER ENGINE (resolved once at construction),
        so two engines in one process can run opposite modes without
        either silently flipping the other. ``None`` resolves with
        deployment-config precedence: the ``spark.sparvi.scaleMode``
        session conf if set, else the process default from
        ``sparvi_spark.config.set_scale_mode``. Explicit per-call
        arguments still win everywhere. Bare operator calls outside an
        engine keep resolving from the process default.

        ``state_format`` forwards to :class:`StateStore` — "parquet"
        (default; pointer-file + lease commit protocol) or an ACID table
        format ("delta") whose transaction log subsumes that
        protocol when its jars are on the session classpath."""
        from sparvi_spark.config import resolve_scale_mode

        self.spark = spark
        self.state = StateStore(spark, warehouse, table_format=state_format)
        self.scale_mode = resolve_scale_mode(scale_mode, spark)
        # corpus_name -> (validated (hash_family, shingle_n, num_hashes),
        # state version pointer at validation): dedup_corpus_incremental's
        # signature-scheme check, memoized so steady-state microbatches
        # don't rescan state; keyed on the committed version so an
        # external re-sign invalidates it (see _check_sig_family)
        self._sig_family_ok: dict[
            str, tuple[tuple[str, int, int], str | None]] = {}

    # ------------------------------------------------------------------ §3.1
    def run_profile(self, df: DataFrame, table_name: str,
                    as_of: str | None = None, exact: bool | None = None,
                    attach_trends: bool = True) -> dict[str, Any]:
        """Profile run: previous profile -> profile document -> store ->
        metric tracking -> trends attach. Returns the profile document.
        ``exact=None`` resolves from THIS engine's scale mode (snapshot
        at construction), not the process-global default."""
        as_of = as_of or _utcnow()
        previous = self.state.latest_profile(table_name)
        if exact is None:
            exact = not self.scale_mode
        profile = profile_table(df, table_name, previous_profile=previous,
                                exact=exact, as_of=as_of)
        self.state.save_profile(table_name, profile, as_of)
        self._track_profile_metrics(profile, as_of)
        if attach_trends:
            # T1 attach from the DataFrame path: scalar fields project out
            # of the stored JSON documents JVM-side (get_json_object), so
            # only the three trend columns reach the driver — not the full
            # profile docs (supabase_manager.py:218-273 trend shape).
            history = profile_trends(self.state.read("profiles"), table_name)
            series = history.select(
                F.get_json_object("data", "$.timestamp").alias("ts"),
                F.get_json_object("data", "$.row_count")
                .cast("long").alias("rc"),
                F.get_json_object("data", "$.duplicate_count")
                .cast("long").alias("dc"),
            ).collect()
            profile["trends"] = {
                "timestamps": [r["ts"] for r in series],
                "row_counts": [r["rc"] for r in series],
                "duplicate_counts": [r["dc"] for r in series],
            }
        return profile

    def _track_profile_metrics(self, profile: dict[str, Any], as_of: str) -> None:
        """T12: append the profile's scalar metrics to historical_metrics
        (the input series of anomaly detection)."""
        t = profile["table_name"]
        rows = [
            {"metric_name": "row_count", "metric_value": float(profile["row_count"]),
             "metric_type": "profile", "table_name": t, "source": "profiler",
             "ts": as_of},
            {"metric_name": "duplicate_count",
             "metric_value": float(profile["duplicate_count"]),
             "metric_type": "profile", "table_name": t, "source": "profiler",
             "ts": as_of},
        ]
        for c, comp in profile["completeness"].items():
            rows.append({"metric_name": "null_percentage",
                         "metric_value": float(comp["null_percentage"]),
                         "metric_type": "profile", "table_name": t,
                         "column_name": c, "source": "profiler", "ts": as_of})
        self.state.append_rows("historical_metrics", rows)

    def publish_event(self, event_type: str, table_name: str,
                      details: str, at: str | None = None) -> None:
        """Append to the engine event log (events.py:94-129 publication —
        the hook notification/automation consumers poll)."""
        self.state.append_rows("engine_events", [{
            "event_type": event_type, "table_name": table_name,
            "details": details, "detected_at": at or _utcnow()}])

    def usage_patterns(self, as_of: str | None = None) -> DataFrame:
        """P16 analogue: per-table access frequency from the engine's own
        event log instead of warehouse QUERY_HISTORY introspection
        (collector.py:281-321 output shape; see trends.usage_patterns)."""
        from sparvi_spark.operators.trends import usage_patterns

        return usage_patterns(self.state.read("engine_events"),
                              "table_name", "detected_at", "event_type",
                              as_of=as_of)

    # ------------------------------------------------------------------ §3.2
    def run_validations(self, df: DataFrame, table_name: str,
                        rules: list[Rule] | None = None,
                        ref_tables: dict[str, DataFrame] | None = None,
                        run_at: str | None = None,
                        primary_keys: tuple[str, ...] = ()) -> DataFrame:
        """Validation run: batched rule execution -> store results; failures
        publish a validation_failure event (routes/validations.py:820-848).
        ``rules=None`` generates the default suite (V1-V20) from the
        DataFrame's schema + name heuristics, like the reference does from
        warehouse introspection.

        The rules run ONCE: ``run_rules`` is eager and returns a local
        relation (one row per rule, so bounded by the driver-side rule
        list), and the stored verdicts, the failure event and the returned
        frame all come from its rows — a caller's action never re-executes
        the rules against a source that may have changed since.
        ``run_rules`` releases pass A's cache itself before returning."""
        run_at = run_at or _utcnow()
        if rules is None:
            from sparvi_spark.operators.validation import (
                generate_default_rules,
                row_growth_rule_vs,
                spec_from_dataframe,
            )

            # anchor date rules (no-future-dates etc.) to THIS run's
            # instant, not the module's frozen default
            rules = generate_default_rules(
                spec_from_dataframe(df, table_name, primary_keys=primary_keys),
                as_of=run_at)
            # V3 row growth: auto-append when historical_metrics holds a
            # prior row_count for this table (the reference auto-generates
            # the same rule against its metrics store,
            # default_validations.py:71-97) — previous count fetched as one
            # tiny scalar, inlined so the rule fuses into pass A
            prev_rows = (self.state.read("historical_metrics")
                         .where((F.col("metric_name") == "row_count")
                                & (F.col("table_name") == table_name))
                         .orderBy(F.col("ts").desc()).limit(1)
                         .select("metric_value").collect())
            if prev_rows and prev_rows[0][0] is not None:
                rules = rules + [row_growth_rule_vs(
                    table_name, int(prev_rows[0][0]))]
        results = run_rules(df, rules, ref_tables=ref_tables)
        stored = results.select(
            F.lit(table_name).alias("table_name"), "rule_name", "operator",
            "expected_lo", "expected_hi", "actual_value", "is_valid",
            F.lit(run_at).cast("timestamp").alias("run_at"))
        self.state.append("validation_results", stored)
        # a local relation: collecting it runs no Spark job
        failed = [r["rule_name"] for r in results.collect()
                  if r["is_valid"] is False]
        if failed:
            self.publish_event("validation_failure", table_name,
                               ",".join(sorted(failed)), run_at)
        return results

    # ------------------------------------------------------------------ §3.3
    def track_schema(self, df: DataFrame, table_name: str,
                     primary_keys: tuple[str, ...] = (),
                     as_of: str | None = None) -> DataFrame | None:
        """Schema tracking: snapshot current schema, diff against the stored
        baseline (S1-S8), store snapshot + changes. Returns the change rows
        (None on baseline bootstrap).

        The diff runs ONCE, before this run's snapshot lands (a failed
        diff stores no snapshot for the next run to diff against): its
        rows (at most one per column of either snapshot plus one
        primary-key row, so bounded by the driver-side schemas) are
        collected as Arrow and handed back as a local relation; the
        stored changes, the schema_change event and the returned frame
        all come from them."""
        as_of = as_of or _utcnow()
        current = snapshot_from_dataframe(self.spark, df, table_name, primary_keys)
        prev_all = self.state.read("schema_snapshots").where(
            F.col("table_name") == table_name)
        # one job: the latest baseline instant, NULL when none is stored
        latest_ts = prev_all.agg(F.max("collected_at")).collect()[0][0]
        previous = None if latest_ts is None else prev_all.where(
            F.col("collected_at") == latest_ts).select(
            "table_name", "column_name", "col_type", "nullable", "pk_ordinal")
        changes = detect_changes(previous, current)
        if changes is not None:
            rows = changes.toArrow()
            changes = local_df(self.spark, rows, changes.schema)
        self.state.append("schema_snapshots", current.withColumn(
            "collected_at", F.lit(as_of).cast("timestamp")))
        if changes is not None:
            self.state.append("schema_changes", changes.withColumn(
                "detected_at", F.lit(as_of).cast("timestamp")))
            important = {t for t, imp in zip(rows["change_type"].to_pylist(),
                                             rows["important"].to_pylist())
                         if imp}
            if important:
                self.publish_event("schema_change", table_name,
                                   ",".join(sorted(important)), as_of)
        return changes

    def save_drift_baseline(self, df: DataFrame, table_name: str,
                            cols: list[str], bins: int = 10,
                            as_of: str | None = None) -> None:
        """Store the columns × bins numeric histogram of ``df`` as the
        drift baseline for ``table_name``. The artifact is kilobytes at
        any snapshot size — later drift checks never touch the baseline's
        rows again (the stored-histogram design a 100 TB snapshot
        requires). Latest baseline wins at check time."""
        from sparvi_spark.operators.drift import numeric_histogram

        as_of = as_of or _utcnow()
        hist = numeric_histogram(df, cols, bins)
        self.state.append("drift_baselines", hist.select(
            F.lit(table_name).alias("table_name"),
            "column_name", "b", "cnt", "mn", "mx",
            F.lit(bins).cast("int").alias("bins"),
            F.lit(as_of).cast("timestamp").alias("collected_at")))

    def run_drift_check(self, df: DataFrame, table_name: str,
                        psi_alert: float = 0.2,
                        as_of: str | None = None) -> DataFrame | None:
        """Distribution drift of ``df`` against the stored baseline
        histogram: (column_name, n_expected, n_actual, tvd, chi2, psi).

        The baseline's columns/bins/edges come from the stored rows (a
        driver-side O(columns × bins) read, like the other engine
        scalar paths); the current snapshot is melted once, binned
        map-side against the stored edges, and full-outer-joined with
        the stored counts. Column psi/tvd land in historical_metrics
        (metric_type='drift') so the trend and anomaly machinery sees
        them like any other metric; psi above ``psi_alert`` publishes a
        distribution_drift engine event. Returns None with no baseline."""
        from sparvi_spark.operators.drift import bucket_expr, drift_metrics

        as_of = as_of or _utcnow()
        base_rows = (self.state.read("drift_baselines")
                     .where(F.col("table_name") == table_name)
                     .selectExpr("*", "max(collected_at) OVER () AS __latest")
                     .where("collected_at = __latest")
                     .collect())
        if not base_rows:
            return None
        bins = int(base_rows[0]["bins"])
        edges = local_df(
            self.spark,
            sorted({(r["column_name"], float(r["mn"]), float(r["mx"]))
                    for r in base_rows}),
            "column_name string, mn double, mx double")
        cols = [r[0] for r in edges.collect()]
        cur = (df.selectExpr(melt_sql(cols, "double"))
               .where("v is not null")
               .join(F.broadcast(edges), "column_name")
               .selectExpr("column_name", f"{bucket_expr(bins)} AS b")
               .groupBy("column_name", "b")
               .agg(F.expr("count(1)").alias("ca")))
        base = local_df(
            self.spark,
            [(r["column_name"], int(r["b"]), int(r["cnt"]))
             for r in base_rows],
            "column_name string, b bigint, ce bigint")
        counts = (base.join(cur, ["column_name", "b"], "full")
                  .selectExpr("column_name", "b",
                              "coalesce(ce, 0) AS ce",
                              "coalesce(ca, 0) AS ca"))
        out = drift_metrics(counts, bins)
        rows = out.collect()
        self.state.append_rows("historical_metrics", [
            {"metric_name": m, "metric_value": r[m], "metric_type": "drift",
             "table_name": table_name, "column_name": r["column_name"],
             "source": "drift_check", "ts": as_of}
            for r in rows for m in ("psi", "tvd")])
        drifted = sorted(r["column_name"] for r in rows
                         if r["psi"] is not None and r["psi"] > psi_alert)
        if drifted:
            self.publish_event("distribution_drift", table_name,
                               ",".join(drifted), as_of)
        # hand back the already-computed rows as a local frame — a caller
        # action must not re-run the melt the collect above just paid for
        return local_df(
            self.spark,
            [tuple(r) for r in rows],
            "column_name string, n_expected bigint, n_actual bigint, "
            "tvd double, chi2 double, psi double")

    def save_vocab_baseline(self, docs: DataFrame, corpus_name: str,
                            text_col: str = "text", top_k: int = 1000,
                            as_of: str | None = None) -> None:
        """Store the reference corpus' token distribution as state: its
        ``top_k`` token counts plus the TRUE corpus token total (so the
        baseline's out-of-vocab mass is representable exactly). The
        vocabulary analogue of ``save_drift_baseline`` — kilobytes of
        state standing in for any corpus size; later checks never reread
        the reference corpus. One explode + one vocabulary-bounded
        groupBy + a per-partition top-k (TakeOrderedAndProject)."""
        from sparvi_spark.operators.dedup import tokens_expr

        as_of = as_of or _utcnow()
        counts = (docs.selectExpr(
            f"explode({tokens_expr(text_col)}) AS token")
            .groupBy("token").agg(F.expr("count(1)").alias("cnt")))
        total = counts.agg(F.expr("sum(cnt)")).first()[0] or 0
        top = (counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
               .limit(top_k).collect())
        self.state.append_rows("vocab_baselines", [
            {"corpus_name": corpus_name, "token": r["token"],
             "cnt": int(r["cnt"]), "total": int(total),
             "top_k": int(top_k), "collected_at": as_of}
            for r in top])

    def check_vocab_drift(self, docs: DataFrame, corpus_name: str,
                          text_col: str = "text",
                          tvd_alert: float = 0.2,
                          as_of: str | None = None) -> DataFrame | None:
        """Token-mix drift of ``docs`` against the stored vocabulary
        baseline -> one-row (tvd, n_tokens, oov_frac, n_vocab).

        tvd = ½( Σ_baseline-tokens |p_batch − p_base| + |oov_batch −
        oov_base| ) where each side's OOV mass is 1 − Σ top-k/total —
        a lower bound on the full-vocabulary TVD that needs only the
        stored K rows. Batch cost: ONE scan — tokens explode, left-join
        the kilobyte baseline vocabulary (broadcast), and a single
        groupBy whose key collapses every non-baseline token to one
        ``__oov__`` bucket, so the shuffle is K+1 rows regardless of the
        batch's own vocabulary. The scalar lands in historical_metrics
        (metric_type='drift', column_name='__vocab__'); above
        ``tvd_alert`` a ``vocab_drift`` event publishes — the same
        consumer path numeric drift uses. None with no baseline."""
        from sparvi_spark.operators.dedup import tokens_expr

        as_of = as_of or _utcnow()
        base_rows = (self.state.read("vocab_baselines")
                     .where(F.col("corpus_name") == corpus_name)
                     .selectExpr("*", "max(collected_at) OVER () AS __l")
                     .where("collected_at = __l")
                     .collect())
        if not base_rows:
            return None
        base = {r["token"]: int(r["cnt"]) for r in base_rows}
        base_total = int(base_rows[0]["total"])
        vocab = local_df(self.spark,
                         [(t,) for t in sorted(base)], "token string")
        got = (docs.selectExpr(
            f"explode({tokens_expr(text_col)}) AS token")
            .join(F.broadcast(vocab.withColumn("__in", F.lit(1))),
                  "token", "left")
            .selectExpr("case when __in = 1 then token "
                        "else '__oov__' end AS k")
            .groupBy("k").agg(F.expr("count(1)").alias("cnt"))
            .collect())
        batch = {r["k"]: int(r["cnt"]) for r in got}
        oov_b = batch.pop("__oov__", 0)
        n_b = oov_b + sum(batch.values())
        if n_b == 0:
            return local_df(self.spark, [(None, 0, None, len(base))],
                            "tvd double, n_tokens bigint, "
                            "oov_frac double, n_vocab int")
        oov_base = 1.0 - (sum(base.values()) / base_total
                          if base_total else 0.0)
        # deterministic driver-side sum: tokens in sorted order
        tvd = abs(oov_b / n_b - oov_base)
        for t in sorted(base):
            tvd += abs(batch.get(t, 0) / n_b - base[t] / base_total)
        tvd = round(tvd / 2.0, 9)
        oov_frac = round(oov_b / n_b, 9)
        self.state.append_rows("historical_metrics", [
            {"metric_name": "vocab_tvd", "metric_value": tvd,
             "metric_type": "drift", "table_name": corpus_name,
             "column_name": "__vocab__", "source": "vocab_drift_check",
             "ts": as_of}])
        if tvd > tvd_alert:
            self.publish_event("vocab_drift", corpus_name,
                               f"tvd={tvd} oov={oov_frac}", as_of)
        return local_df(self.spark,
                        [(tvd, n_b, oov_frac, len(base))],
                        "tvd double, n_tokens bigint, oov_frac double, "
                        "n_vocab int")

    # ------------------------------------------------------------------ §3.4
    def run_anomaly_detection(self, configs: list[dict[str, Any]],
                              history_days: int = 30,
                              limit_per_series: int = 1000,
                              as_of: str | None = None) -> DataFrame | None:
        """Anomaly run over all active configs as ONE keyed window job per
        (method, params) GROUP, the configs broadcast-joined onto the
        metric series (the reference threads over configs one at a time,
        scheduler.py:30-91). Plan size is O(distinct method groups), not
        O(configs): 200 same-method configs are 200 rows in one broadcast
        config table and one window subtree, where a per-config loop built
        200 filtered subtrees and linear Catalyst analysis cost."""
        import json as _json

        as_of = as_of or _utcnow()
        metrics = self.state.read("historical_metrics").where(
            F.col("ts") >= F.lit(as_of).cast("timestamp")
            - F.expr(f"interval {history_days} days"))
        keys = ["metric_name", "table_name", "column_name"]

        # group configs by detection signature — every config in a group
        # shares method/sensitivity/min_points/params, so one detect call
        # covers all of them
        groups: dict[str, list[tuple[int, dict[str, Any]]]] = {}
        for i, cfg in enumerate(configs):
            if not cfg.get("is_active", True):
                continue
            sig = _json.dumps({
                "m": cfg.get("detection_method", "zscore"),
                "s": cfg.get("sensitivity", 1.0),
                "n": cfg.get("min_data_points", 7),
                "p": cfg.get("config_params") or {},
            }, sort_keys=True)
            groups.setdefault(sig, []).append((i, cfg))

        outs: list[DataFrame] = []
        for members in groups.values():
            cfg0 = members[0][1]
            rows = [(i, c["metric_name"], c.get("table_name", ""),
                     c.get("column_name") or None) for i, c in members]
            cfgdf = local_df(
                self.spark,
                rows, "cfg_id int, c_metric string, c_table string, "
                      "c_column string")
            # broadcast-hash join on the equi keys with the wildcard-column
            # residual; cfg_id stays in the window partition keys so a
            # series matched by TWO configs of the group keeps separate
            # stats (and duplicate emission), exactly like the per-config
            # loop
            joined = metrics.join(
                F.broadcast(cfgdf),
                (metrics["metric_name"] == cfgdf["c_metric"])
                & (metrics["table_name"] == cfgdf["c_table"])
                & (cfgdf["c_column"].isNull()
                   | (metrics["column_name"] == cfgdf["c_column"])),
                "inner").drop("c_metric", "c_table", "c_column")
            gkeys = ["cfg_id"] + keys
            series = retain_latest(joined, gkeys, "ts", limit_per_series) \
                .select(*gkeys, "ts", F.col("metric_value").alias("value"))
            det = detect_anomalies(series, gkeys, config=cfg0,
                                   order_col="ts", value_col="value")
            outs.append(det.where(F.col("is_anomaly")).select(
                *keys, F.col("method"),
                "ts", "value", "score", "threshold", "severity"))
        if not outs:
            return None
        result = outs[0]
        for o in outs[1:]:
            result = result.unionAll(o)
        self.state.append(
            "anomaly_results",
            result.withColumn("run_date", F.to_date(F.lit(as_of))))
        return result

    # ------------------------------------------------------------------ §3.5
    def screen_corpus(self, docs: DataFrame, corpus_name: str,
                      text_col: str = "text", id_col: str = "doc_id",
                      ref: DataFrame | None = None,
                      run_at: str | None = None,
                      min_keep_rate: float = 0.5,
                      max_dup_rate: float = 0.2,
                      max_contamination_rate: float = 0.05,
                      contamination_threshold: float = 0.5,
                      classifier_weights: list[float] | None = None,
                      classifier_bias: float = 0.0,
                      min_classifier_pass_rate: float = 0.5,
                      quality_overrides: dict[str, Any] | None = None,
                      ) -> dict[str, Any]:
        """Training-corpus ingest gate: ONE summary from three screens —
        Gopher-rule quality pass rate, exact-duplicate rate, and (given a
        reference/benchmark corpus) the fraction of docs whose shingle
        overlap with it exceeds ``contamination_threshold`` (broadcast-
        Bloom screen, upper bound). The summary row is appended to the
        ``corpus_screens`` state table; any gate breach publishes a
        ``corpus_gate_failure`` event for the automation consumers, the
        same path validation failures use.

        All three screens are full-scan-parallel (operators/
        text.quality_filter, a distinct count of text hashes,
        bloom.contamination_bloom); only the counts reach the driver.
        """
        from sparvi_spark.operators.bloom import contamination_bloom
        from sparvi_spark.operators.text import quality_filter

        run_at = run_at or _utcnow()
        n_docs = docs.count()
        if n_docs == 0:
            raise ValueError(f"screen_corpus: {corpus_name} has no rows")

        kept = quality_filter(docs, text_col, id_col,
                              **(quality_overrides or {})).agg(
            F.count(F.when(F.col("keep"), 1)).alias("kept")
        ).first()["kept"]
        keep_rate = kept / n_docs

        # duplicates over NON-NULL texts only — numerator AND denominator:
        # xxhash64 does not null-propagate (NULL hashes to the seed), so
        # hashing nulls would count k null docs as k-1 duplicates, and a
        # total-docs denominator would let null-text rows dilute the rate
        # (half-duplicate corpora sailing under the gate)
        nn = docs.where(F.col(text_col).isNotNull())
        n_nonnull = nn.count()
        n_distinct = (nn.select(F.xxhash64(F.col(text_col)).alias("h"))
                      .agg(F.countDistinct("h").alias("d")).first()["d"])
        dup_rate = ((n_nonnull - n_distinct) / n_nonnull
                    if n_nonnull else 0.0)

        # optional model gate: fraction of docs a trained quality
        # classifier labels positive (operators/classify.py — map-only
        # scoring, one extra scan + scalar agg)
        classifier_pass_rate = None
        if classifier_weights is not None:
            from sparvi_spark.operators.classify import linear_scores

            passed = linear_scores(
                docs, classifier_weights, id_col, text_col,
                bias=classifier_bias,
            ).agg(F.count(F.when(F.col("label"), 1)).alias("p")).first()["p"]
            classifier_pass_rate = passed / n_docs

        contamination_rate = None
        if ref is not None:
            flagged = contamination_bloom(
                docs, ref, id_col, text_col).where(
                F.col("contamination_frac") >= contamination_threshold
            ).count()
            contamination_rate = flagged / n_docs

        summary = {
            "corpus_name": corpus_name,
            "n_docs": int(n_docs),
            "keep_rate": round(keep_rate, 6),
            "dup_rate": round(dup_rate, 6),
            "contamination_rate": (None if contamination_rate is None
                                   else round(contamination_rate, 6)),
            "classifier_pass_rate": (None if classifier_pass_rate is None
                                     else round(classifier_pass_rate, 6)),
            "screened_at": run_at,
        }
        self.state.append_rows("corpus_screens", [summary])

        breaches = []
        if keep_rate < min_keep_rate:
            breaches.append(f"keep_rate {keep_rate:.3f} < {min_keep_rate}")
        if dup_rate > max_dup_rate:
            breaches.append(f"dup_rate {dup_rate:.3f} > {max_dup_rate}")
        if (contamination_rate is not None
                and contamination_rate > max_contamination_rate):
            breaches.append(
                f"contamination_rate {contamination_rate:.3f} "
                f"> {max_contamination_rate}")
        if (classifier_pass_rate is not None
                and classifier_pass_rate < min_classifier_pass_rate):
            breaches.append(
                f"classifier_pass_rate {classifier_pass_rate:.3f} "
                f"< {min_classifier_pass_rate}")
        if breaches:
            self.publish_event("corpus_gate_failure", corpus_name,
                               "; ".join(breaches), run_at)
        summary["gate_passed"] = not breaches
        return summary

    def export_training_corpus(self, docs: DataFrame, corpus_name: str,
                               path: str, n_shards: int = 64,
                               text_col: str = "text",
                               id_col: str = "doc_id",
                               ref: DataFrame | None = None,
                               classifier_weights: list[float] | None = None,
                               classifier_bias: float = 0.0,
                               require_gate: bool = True,
                               run_at: str | None = None,
                               tokenize_merges: int | None = None,
                               pack_ctx: int | None = None,
                               pack_policy: str = "chop",
                               dedup_lines_min_count: int | None = None,
                               strip_duplicate_spans_n: int | None = None,
                               shuffle_seed: int | None = None,
                               quality_overrides: dict[str, Any] | None = None,
                               **gate_kwargs: Any) -> dict[str, Any]:
        """End-to-end corpus publication: what ``screen_corpus`` MEASURES,
        this APPLIES — gate, then filter (Gopher quality rules + optional
        trained classifier), deterministically dedup (min-id survivor per
        exact text), and shard-export for the training loader.

        Flow: (1) optional text-rewrite curation runs FIRST — before the
        gate and before quality judging (boilerplate lines and duplicated
        passages distort every quality signal both of them read, and the
        recorded gate metrics must describe the TEXT THAT IS PUBLISHED) —
        each the linear corpus-curation shape: ``dedup_lines_min_count``
        strips corpus-wide repeated lines (the C4 boilerplate rule,
        text.dedup_lines_corpus); ``strip_duplicate_spans_n`` cuts exact
        duplicated passages (ExactSubstr analogue, dedup.duplicate_spans +
        remove_duplicate_spans). Docs rewritten to emptiness drop out.
        (2) The ingest gate runs on the CURATED text with the same
        thresholds/kwargs as ``screen_corpus``; a breach with
        ``require_gate`` aborts BEFORE any write (summary returns
        ``exported=False``) — a corpus that fails its gate must never
        silently reach the loader path. (3) Surviving docs = quality
        ``keep`` ∧ classifier ``label`` (when a model is given). (4) Exact
        dedup keeps the SMALLEST id per text (window on the text hash —
        deterministic, unlike dropDuplicates, so re-runs publish identical
        shards). (5) ``sources/export.export_shards`` writes the
        ``shard=N`` layout and the manifest; counts + a
        ``corpus_exported`` event land in state. ``shuffle_seed``
        forwards to the shard export (deterministic within-shard epoch
        order). With ``tokenize_merges`` + ``pack_ctx``, ``pack_policy``
        picks the packing: ``"chop"`` (default, concat-and-chop — zero
        padding, documents may split across packs) or ``"binpack"``
        (whole-document next-fit-decreasing bins — intact examples for
        instruction tuning/eval, padding is the price; see
        operators/text.pack_sequences_binpack).

        Every stage is scan-parallel; only gate scalars and the manifest
        (n_shards rows) reach the driver. When curation runs, the curated
        frame is persisted for the duration (the gate takes ~6 actions
        over it; MEMORY_AND_DISK spills rather than recomputing the
        line-dedup join per action) and unpersisted before returning.
        """
        run_at = run_at or _utcnow()
        # (1) curation BEFORE the gate: the stored gate metrics
        # (keep_rate, dup_rate, classifier_pass_rate) must describe the
        # same text the filter judges and the loader reads
        curated = (dedup_lines_min_count is not None
                   or strip_duplicate_spans_n is not None)
        if dedup_lines_min_count is not None:
            from sparvi_spark.operators.text import dedup_lines_corpus

            docs = (dedup_lines_corpus(
                docs, id_col, text_col, min_count=dedup_lines_min_count)
                .drop(text_col, "n_lines_removed")
                .withColumnRenamed("text_clean", text_col))
        if strip_duplicate_spans_n is not None:
            from sparvi_spark.operators.dedup import (
                duplicate_spans, remove_duplicate_spans)

            spans = duplicate_spans(docs, id_col, text_col,
                                    n=strip_duplicate_spans_n)
            docs = (remove_duplicate_spans(docs, spans, id_col, text_col)
                    .drop(text_col, "n_tokens_removed")
                    .withColumnRenamed("text_clean", text_col))
        if curated:
            docs = docs.where(
                f"{ident(text_col)} is not null and trim({ident(text_col)}) <> ''")
            docs = docs.persist()
        try:
            summary = self.screen_corpus(
                docs, corpus_name, text_col=text_col, id_col=id_col,
                ref=ref, run_at=run_at,
                classifier_weights=classifier_weights,
                classifier_bias=classifier_bias,
                quality_overrides=quality_overrides, **gate_kwargs)
            if require_gate and not summary["gate_passed"]:
                summary["exported"] = False
                return summary
            return self._export_filtered(
                docs, summary, path, n_shards, text_col, id_col,
                classifier_weights, classifier_bias, run_at,
                tokenize_merges, pack_ctx, shuffle_seed,
                quality_overrides, corpus_name, pack_policy=pack_policy)
        finally:
            if curated:
                docs.unpersist()

    def _export_filtered(self, docs, summary, path, n_shards, text_col,
                         id_col, classifier_weights, classifier_bias,
                         run_at, tokenize_merges, pack_ctx, shuffle_seed,
                         quality_overrides, corpus_name,
                         pack_policy="chop"):
        """Filter → dedup → shard-export half of
        ``export_training_corpus`` (docs arrive already curated)."""
        from sparvi_spark.operators.text import quality_filter
        from sparvi_spark.sources.export import export_shards

        keep_ids = quality_filter(docs, text_col, id_col,
                                  **(quality_overrides or {})) \
            .where(F.col("keep")).select(id_col)
        kept = docs.join(keep_ids, id_col, "left_semi")
        if classifier_weights is not None:
            from sparvi_spark.operators.classify import linear_scores

            pos = linear_scores(kept, classifier_weights, id_col, text_col,
                                bias=classifier_bias) \
                .where(F.col("label")).select(id_col)
            kept = kept.join(pos, id_col, "left_semi")
        deduped = (kept.withColumn(
            "__rn", F.expr(
                f"row_number() OVER (PARTITION BY xxhash64({ident(text_col)}) "
                f"ORDER BY {ident(id_col)})"))
            .where("__rn = 1").drop("__rn"))

        manifest = export_shards(deduped, path, id_col, n_shards,
                                 shuffle_seed=shuffle_seed)
        rows = manifest.collect()
        n_exported = int(sum(r["n_rows"] for r in rows))
        summary.update({
            "exported": True, "export_path": path,
            "n_exported": n_exported, "n_shards": len(rows),
        })
        if tokenize_merges is not None:
            # (5) optional tokenized export: BPE trained on the PUBLISHED
            # survivors (a tokenizer fit before filtering learns merges
            # from documents the loader never sees), docs encoded to ids,
            # and — with pack_ctx — concat-and-chop context windows
            # materialized shard-locally (pack_token_ids). The model ships
            # with the shards so the loader decodes with the exact vocab.
            # Everything here reads the JUST-WRITTEN shards back rather
            # than re-deriving `deduped`: the gate→filter→curation→dedup
            # plan would otherwise re-execute once per action below
            # (train, encode+write, summary aggs).
            import json as _json

            from sparvi_spark.operators.tokenize import (
                bpe_encode, pack_token_ids, train_bpe)
            from sparvi_spark.sources.writers import write_text_file

            pub = self.spark.read.parquet(path)
            model = train_bpe(pub, num_merges=tokenize_merges,
                              text_col=text_col)
            enc = bpe_encode(pub, model, id_col=id_col,
                             text_col=text_col)
            if pack_ctx is not None:
                # sibling dir, NOT nested under `path`: the doc export is
                # a shard=N partition tree, and a foreign subdir inside it
                # breaks partition discovery on the doc read
                if pack_policy == "binpack":
                    # whole-document bins (instruction-tuning shape):
                    # same (shard, pack_id, token_ids, ...) output as the
                    # chop packer, so everything downstream is shared
                    from sparvi_spark.operators.tokenize import (
                        binpack_token_ids,
                    )

                    packs = binpack_token_ids(
                        enc, pack_ctx, id_col=id_col, n_shards=n_shards)
                elif pack_policy == "chop":
                    packs = pack_token_ids(
                        enc.withColumn(
                            "__shard",
                            F.expr(
                                f"pmod(xxhash64({ident(id_col)}), {n_shards})")),
                        pack_ctx, id_col=id_col, shard_col="__shard")
                else:
                    raise ValueError(
                        f"unknown pack_policy {pack_policy!r} — "
                        f"'chop' (concat-and-chop, zero padding, docs "
                        f"may split) or 'binpack' (whole-document "
                        f"next-fit-decreasing bins)")
                # deterministic file order (byte-comparable re-exports);
                # shuffle_seed randomizes the pack STREAM order the same
                # way it randomizes doc order in the shards — packs are
                # what the loader actually reads
                pack_order = [F.col("shard")] + (
                    [F.xxhash64(F.col("pack_id"), F.lit(shuffle_seed)),
                     F.col("pack_id")]
                    if shuffle_seed is not None else [F.col("pack_id")])
                (packs.repartition("shard")
                 .sortWithinPartitions(*pack_order)
                 .write.mode("overwrite")
                 .partitionBy("shard").parquet(f"{path}.packs"))
                summary["packs_path"] = f"{path}.packs"
                agg = self.spark.read.parquet(f"{path}.packs").groupBy().agg(
                    F.expr("count(1)"), F.expr("sum(n_tokens)"),
                    F.expr("count(distinct shard)")).first()
                summary.update({
                    "n_packs": int(agg[0] or 0),
                    "n_tokens": int(agg[1] or 0),
                    "pack_ctx": pack_ctx,
                    "pack_policy": pack_policy,
                    "n_pack_shards": int(agg[2] or 0),
                })
            else:
                (enc.write.mode("overwrite")
                 .parquet(f"{path}.tokens"))
                agg = self.spark.read.parquet(f"{path}.tokens") \
                    .groupBy().agg(
                    F.expr("count(1)"), F.expr("sum(n_tokens)")).first()
                summary.update({"n_token_docs": int(agg[0] or 0),
                                "n_tokens": int(agg[1] or 0),
                                "tokens_path": f"{path}.tokens"})
            # Hadoop-FS sidecar write: works on every root the shard
            # writes themselves work on (s3a/gs/hdfs), unlike open()
            write_text_file(
                self.spark, f"{path}.tokenizer.json",
                _json.dumps({"merges": [list(m) for m in model["merges"]],
                             "vocab": model["vocab"]}))
            summary["tokenizer_merges"] = len(model["merges"])
        self.publish_event(
            "corpus_exported", corpus_name,
            f"{n_exported} docs in {len(rows)} shards at {path}", run_at)
        return summary

    def build_ann_index(self, df: DataFrame, index_name: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        nlist: int = 8, m: int = 8, k: int = 16,
                        iters: int = 3,
                        run_at: str | None = None) -> dict[str, Any]:
        """Train + persist a named IVF-PQ index under the warehouse
        (``<warehouse>/ann/<name>`` codes + model sidecar; sources/
        index_io.py) and log an ``ann_index_built`` event. One call takes
        a corpus from raw embeddings to a servable index; training cost
        is the one-pass sampled k-means + residual PQ, encode is map-only.
        """
        import os as _os

        from sparvi_spark.operators.similarity import ivfpq_train
        from sparvi_spark.sources.index_io import save_ivfpq_index

        run_at = run_at or _utcnow()
        cents, books = ivfpq_train(df, nlist=nlist, m=m, k=k,
                                   id_col=id_col, vec_col=vec_col,
                                   iters=iters)
        path = _os.path.join(self.state.root, "ann", index_name)
        manifest = save_ivfpq_index(df, path, cents, books,
                                    id_col=id_col, vec_col=vec_col)
        self.publish_event(
            "ann_index_built", index_name,
            f"{manifest['n_vectors']} vectors, {manifest['n_cells']} "
            f"cells, m={manifest['m']} at {path}", run_at)
        return {**manifest, "path": path}

    def ann_search(self, queries: DataFrame, index_name: str,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   k: int = 10, nprobe: int = 2,
                   exclude_self: bool = True) -> DataFrame:
        """ADC top-k against a named stored index -> (query_id,
        neighbor_id, rank, adc_dist). Cold start reads the KB model
        sidecar; the cell-partitioned codes scan prunes to nprobe cells."""
        import os as _os

        from sparvi_spark.operators.similarity import ivfpq_topk
        from sparvi_spark.sources.index_io import load_ivfpq_index

        codes, cents, books = load_ivfpq_index(
            self.spark, _os.path.join(self.state.root, "ann", index_name))
        return ivfpq_topk(codes, queries, cents, books, id_col=id_col,
                          vec_col=vec_col, k=k, nprobe=nprobe,
                          exclude_self=exclude_self)

    def _check_sig_family(self, corpus_name: str, hash_fn: str,
                          n: int, num_hashes: int) -> None:
        """Refuse to band a batch's signatures against stored rows
        produced under a DIFFERENT scheme (hash family, shingle n, or
        signature width): cross-family agreement is ~0, so the mismatch
        would silently re-admit every stored doc as new. NULL-stamped
        rows (pre-r11 state) can't be checked — warn once per corpus and
        proceed. Memoized per (engine, corpus) after one clean pass;
        our own appends keep the stamp consistent from then on."""
        from sparvi_spark.sources.state import read_pointer

        want = (hash_fn, int(n), int(num_hashes))
        # The memo is keyed on the state table's COMMITTED VERSION
        # pointer, not just the scheme: a plain per-corpus memo would
        # keep banding against state that an external writer re-signed
        # after our one clean pass (the exact silent failure this check
        # exists to prevent, hidden behind the cache). Reading the
        # pointer is one tiny local file read per call; our own appends
        # re-point the memo right after committing (they stamp the same
        # scheme), so steady-state microbatches still skip the scan.
        # This only covers LOCAL pointer-dir state: ACID formats write
        # no pointer and remote roots can't be open()ed, so read_pointer
        # returns None there — in that case memoization is DISABLED
        # (every call rescans the stamps) rather than collapsing the key
        # to (scheme, None) and never catching an external re-sign.
        ptr = read_pointer(self.state._path("corpus_signatures"))
        if ptr is not None \
                and self._sig_family_ok.get(corpus_name) == (want, ptr):
            return
        stored = (self.state.read("corpus_signatures")
                  .where(F.col("corpus_name") == corpus_name)
                  .select("hash_family", "shingle_n", "num_hashes")
                  .distinct().collect())
        bad = [(r["hash_family"], r["shingle_n"], r["num_hashes"])
               for r in stored
               if r["hash_family"] is not None
               and (r["hash_family"], r["shingle_n"],
                    r["num_hashes"]) != want]
        if bad:
            raise ValueError(
                f"corpus {corpus_name!r} holds signatures stamped "
                f"{sorted(set(bad))}, incompatible with this batch's "
                f"(hash_family, shingle_n, num_hashes)={want}: "
                f"cross-family signatures never agree, so banding them "
                f"would silently re-admit stored docs as duplicates. "
                f"Re-sign the corpus state under one scheme (or pass the "
                f"stored scheme's hash_fn/n/num_hashes).")
        if any(r["hash_family"] is None for r in stored):
            import warnings

            warnings.warn(
                f"corpus {corpus_name!r} holds legacy signature rows "
                f"with no hash_family stamp; assuming they were signed "
                f"with {want} — if the corpus predates a hash_fn or "
                f"construction change, stored docs will NOT be matched. "
                f"Engine.restamp_corpus_signatures() asserts-and-stamps "
                f"legacy rows under an explicit family claim.",
                stacklevel=3)
        if ptr is not None:
            self._sig_family_ok[corpus_name] = (want, ptr)

    def restamp_corpus_signatures(self, corpus_name: str, hash_fn: str,
                                  n: int, num_hashes: int,
                                  bands: int | None = None) -> dict[str, Any]:
        """Assert-or-stamp legacy NULL-stamped signature rows under an
        EXPLICIT family claim — the migration path for pre-stamping state
        (``_check_sig_family`` can only warn on NULL rows; after a real
        scheme change the warning repeats forever while cross-batch dups
        are silently missed).

        The claim is validated before anything is written:

        - rows already stamped with a DIFFERENT scheme -> raise (the
          stamps are authoritative; a claim contradicting them is wrong);
        - any row whose ``size(sig) != num_hashes`` -> raise (the claim
          is provably false regardless of what the caller believes);
        - otherwise NULL-stamped rows of ``corpus_name`` are rewritten
          with the claimed (hash_family, shingle_n, num_hashes), via the
          state store's transactional ``rewrite``. When ``bands`` is
          given, missing/wrong-width ``band_hashes`` are also filled
          (same ``band_hashes_expr`` the append path stamps), retiring
          the per-batch inline-fallback cost for legacy rows.

        Returns {"n_rows", "n_restamped"}. The family memo for the
        corpus is dropped so the next batch re-validates the new stamps.
        """
        from sparvi_spark.operators.dedup import band_hashes_expr

        want = (hash_fn, int(n), int(num_hashes))
        rows = (self.state.read("corpus_signatures")
                .where(F.col("corpus_name") == corpus_name))
        stored = (rows.where(F.col("hash_family").isNotNull())
                  .select("hash_family", "shingle_n", "num_hashes")
                  .distinct().collect())
        bad = [(r["hash_family"], r["shingle_n"], r["num_hashes"])
               for r in stored
               if (r["hash_family"], r["shingle_n"],
                   r["num_hashes"]) != want]
        if bad:
            raise ValueError(
                f"restamp claim {want} contradicts existing stamps "
                f"{sorted(set(bad))} on corpus {corpus_name!r}; stamped "
                f"rows are authoritative — re-sign the corpus instead "
                f"of restamping.")
        agg = rows.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum(F.when(F.col("hash_family").isNull(), 1)
                             .otherwise(0)), F.lit(0)).alias("n_legacy"),
            F.coalesce(F.sum(F.when(F.size("sig") != int(num_hashes), 1)
                             .otherwise(0)), F.lit(0)).alias("n_bad_width"),
        ).first()
        if agg["n_bad_width"]:
            raise ValueError(
                f"restamp claim num_hashes={num_hashes} is provably "
                f"wrong for corpus {corpus_name!r}: {agg['n_bad_width']} "
                f"stored rows have a different signature width.")
        if not agg["n_legacy"] and bands is None:
            return {"n_rows": agg["n_rows"], "n_restamped": 0}

        def _transform(df: DataFrame) -> DataFrame:
            df = df.withColumn(
                "__legacy", (F.col("corpus_name") == corpus_name)
                & F.col("hash_family").isNull())
            for col, val in (("hash_family", F.lit(hash_fn)),
                             ("shingle_n", F.lit(int(n))),
                             ("num_hashes", F.lit(int(num_hashes)))):
                df = df.withColumn(col, F.when(F.col("__legacy"), val)
                                   .otherwise(F.col(col)))
            if bands is not None:
                fill = ((F.col("corpus_name") == corpus_name)
                        & (F.col("band_hashes").isNull()
                           | (F.size("band_hashes") != int(bands))))
                df = df.withColumn(
                    "band_hashes",
                    F.when(fill,
                           F.expr(band_hashes_expr(hash_fn, num_hashes,
                                                   bands)))
                    .otherwise(F.col("band_hashes")))
            return df.drop("__legacy")

        self.state.rewrite("corpus_signatures", _transform)
        self._sig_family_ok.pop(corpus_name, None)
        return {"n_rows": agg["n_rows"], "n_restamped": agg["n_legacy"]}

    def dedup_corpus_incremental(self, docs: DataFrame, corpus_name: str,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 n: int = 3, num_hashes: int = 64,
                                 bands: int = 16, threshold: float = 0.5,
                                 hash_fn: str = "xxhash64",
                                 run_at: str | None = None,
                                 sink: Any | None = None) -> dict[str, Any]:
        """Near-dedup a NEW batch against everything already admitted to
        ``corpus_name`` — without rereading a byte of past batches. The
        admitted corpus is represented by its stored MinHash signatures
        (``corpus_signatures`` state: num_hashes longs per doc — a billion
        docs is ~0.5 TB of signatures vs the corpus' ~100 TB of text).

        Three stages, each the linear LSH shape:
        (1) in-batch near-dedup — ``minhash_lsh_pairs`` (banding + EXACT
            gram verification; the batch's grams are in hand) +
            ``dedup_near`` keep-smallest;
        (2) cross-dedup vs state — ``minhash_pairs_from_sigs`` band join
            of batch signatures against stored signatures, verified by the
            signature-agreement estimator (the state holds no gram sets);
        (3) survivors' signatures appended to state, so the NEXT batch
            dedups against them too.

        The kept frame is ``localCheckpoint``-pinned before the append:
        its plan reads the same state files the append extends, and a lazy
        re-evaluation after the write would see the batch's own just-
        written signatures and drop everything. Returns {"kept": frame,
        "n_in", "n_in_batch_dups", "n_vs_corpus_dups", "n_kept"}.

        ``sink(kept_frame)`` — when given — runs BEFORE the signature
        append: if the sink (or anything earlier) fails, no signatures
        were written and an at-least-once replay recomputes cleanly; a
        replay AFTER a completed call matches every doc against its own
        stored signature, n_kept=0, and the sink is skipped. The one
        remaining window is a crash AFTER the sink succeeds but BEFORE
        the signature append — the replay re-admits the same survivors
        and calls the sink again, so the sink itself must be idempotent
        for exactly-once output (the streaming intake writes each batch
        to a batch_id-keyed subdirectory with mode=overwrite, so a replay
        REWRITES the same files instead of appending duplicates). A
        caller that writes the survivors AFTER this returns (sink=None)
        additionally risks a crash between the append and its own write
        stranding the batch's docs as self-duplicates.

        The LSH band caches built inside are released before returning
        (``scoped_caches`` — a long-running stream would otherwise leak
        one CacheManager entry per microbatch); ``kept`` survives as a
        localCheckpoint.

        ``hash_fn`` deliberately does NOT resolve from the engine-wide
        scale mode (unlike the stateless operators): stored signatures
        are only comparable to future batches signed by the SAME hash
        family, so a process-global mode flip between microbatches would
        silently stop catching cross-batch duplicates. The family is
        pinned per corpus by the caller — pass ``hash_fn="arrow"``
        explicitly (and consistently) to run the vectorized lane.

        The pin is ENFORCED, not just documented (r11): every appended
        signature row is stamped with (hash_family, shingle_n,
        num_hashes), and before the cross-batch band join the batch's
        params are validated against the stored rows' — a mismatch
        raises ValueError instead of silently comparing incomparable
        signatures (agreement would drop to ~0 and previously admitted
        docs would be re-admitted with no error; the same hazard applies
        across VERSION flips that change the construction, like r10's
        KM -> affine fix, which is why the family string is stored
        rather than inferred from the code). Rows stamped NULL (state
        written before r11) can't be validated — they warn once per
        corpus and are still banded against. The validation verdict is
        memoized per corpus on this engine instance so steady-state
        microbatches pay no extra state scan.
        """
        from sparvi_spark.config import HASH_FNS, check_lane
        from sparvi_spark.operators.dedup import (
            dedup_near, minhash_lsh_pairs, minhash_pairs_from_sigs,
            minhash_signed)

        # validated before anything reads or stamps state: the family
        # string is what the store records for this corpus
        check_lane(hash_fn, HASH_FNS, "hash_fn")
        run_at = run_at or _utcnow()
        self._check_sig_family(corpus_name, hash_fn, n, num_hashes)
        # A streaming microbatch often arrives in 1-2 input partitions
        # (one small file per trigger) while the signature build is the
        # most CPU-heavy per-row work in the engine — widen narrow
        # batches so it parallelizes (one narrow shuffle of the batch,
        # paid once; wide batches pass through untouched).
        width = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < max(2, width // 4):
            docs = docs.repartition(width)
        # the batch plan feeds the pair search, the signatures, and the
        # kept anti-join — persist so the in-batch LSH pipeline runs
        # once, not once per consumer (streaming hot path). n_in rides
        # the cache FILL as an observe() metric: the fill happens inside
        # the kept checkpoint (this trigger's first action), and Spark 4
        # resolves observations through nested InMemoryRelation plans
        # (verified two-deep), so the count costs zero jobs.
        from pyspark.sql import Observation

        obs_in = Observation()
        docs = docs.observe(obs_in,
                            F.count(F.lit(1)).alias("n")).persist()
        # ONE gram+signature build for the whole call: the pair search
        # reads it via signed=, and the kept checkpoint carries its sig
        # column for the state append — previously the append re-ran the
        # full build on batch_kept (measured: ~half the per-batch wall).
        # Persisted OUTSIDE scoped_caches: the append in the tail below
        # still reads it after the scope releases the LSH band caches.
        # ANY step after the first persist can raise (state read, counts,
        # a transient sink failure in a streaming intake); the finally
        # covers everything from here down so a failed microbatch never
        # leaks a CacheManager entry — the same leak class scoped_caches
        # exists to prevent. kept is localCheckpoint-pinned, so releasing
        # its parents in the finally is safe even on the success path.
        batch_kept = signed = None
        try:
            signed = minhash_signed(docs, id_col, text_col, n=n,
                                    num_hashes=num_hashes,
                                    hash_fn=hash_fn).persist()
            with scoped_caches():
                # bounded=True: a microbatch is bounded by contract (the
                # same assertion small_side="new" makes below), so the
                # in-batch LSH takes explicit broadcast builds instead of
                # AQE-staged shuffles (guide §3.1) — each removed
                # exchange is one fewer materialized stage job per
                # trigger
                pairs = minhash_lsh_pairs(docs, id_col, text_col, n=n,
                                          num_hashes=num_hashes,
                                          bands=bands, threshold=threshold,
                                          hash_fn=hash_fn, signed=signed,
                                          bounded=True)
                batch_kept = dedup_near(docs, pairs, id_col,
                                        bounded=True).persist()
                # in-batch survivors' signatures, FILTERED from the shared
                # signed base (same rows minhash_signatures(batch_kept)
                # would produce, no second gram+sig build)
                sigs = (signed.select(F.col("__id").alias(id_col), "sig")
                        .join(batch_kept.select(id_col), id_col))
                state_sigs = (self.state.read("corpus_signatures")
                              .where(F.col("corpus_name") == corpus_name)
                              .select(F.col("doc_id").alias("ref_id"),
                                      "sig", "band_hashes"))
                # small_side="new": the microbatch is bounded, the state
                # grows without bound — broadcast the batch so the state
                # only streams (never shuffles) per trigger.
                # ref_bands_col: stored rows carry their band hashes
                # (stamped at the append below), so the stream doesn't
                # re-slice every stored signature either.
                cross = minhash_pairs_from_sigs(
                    sigs.select(F.col(id_col).alias("id"), "sig"),
                    state_sigs, num_hashes=num_hashes, bands=bands,
                    threshold=threshold, hash_fn=hash_fn,
                    small_side="new", ref_bands_col="band_hashes")
                contaminated = F.broadcast(cross.select(
                    F.col("id").alias("__dup")).distinct())
                # r13 trigger-fusion (guide §1 per-action floor; closes
                # VERDICT r12 item 2 with intake_job_count.py evidence):
                # (a) the checkpoint CARRIES each survivor's signature
                #     (one left join against the cached signed base; LEFT
                #     because <n-token docs have no signature row yet must
                #     stay in kept exactly as before), so the state append
                #     below is a pure projection of the checkpoint — the
                #     old sigs-join-kept append plan cost ~8 extra AQE
                #     stage jobs per trigger;
                # (b) all THREE trigger counts ride the SAME action as
                #     observe() metrics — zero count jobs (the r12 fused
                #     3-way count was one action but still ~7 AQE jobs):
                #     n_in fires during the docs cache fill (persist
                #     above), batch_kept/kept count in the checkpoint's
                #     own plan.
                obs_bk, obs_kept = Observation(), Observation()
                kept_full = (batch_kept
                             .observe(obs_bk,
                                      F.count(F.lit(1)).alias("n"))
                             .join(F.broadcast(signed.select(
                                 F.col("__id").alias(id_col),
                                 F.col("sig").alias("__sig"))),
                                 id_col, "left")
                             .join(contaminated,
                                   F.col(id_col) == F.col("__dup"),
                                   "left_anti")
                             .observe(obs_kept,
                                      F.count(F.lit(1)).alias("n"))
                             .localCheckpoint())
                kept = kept_full.drop("__sig")
                n_batch_kept = int(obs_bk.get["n"])
                n_kept = int(obs_kept.get["n"])
                n_in = int(obs_in.get["n"])
            if sink is not None and n_kept:
                sink(kept)
            from sparvi_spark.operators.dedup import band_hashes_expr

            kept_sigs = (kept_full
                         .where(F.col("__sig").isNotNull())
                         .select(F.col(id_col), F.col("__sig").alias("sig"))
                         .select(
                             F.lit(corpus_name).alias("corpus_name"),
                             F.col(id_col).cast("string").alias("doc_id"),
                             "sig",
                             F.lit(hash_fn).alias("hash_family"),
                             F.lit(n).cast("int").alias("shingle_n"),
                             F.lit(num_hashes).cast("int").alias("num_hashes"),
                             # band hashes computed ONCE here instead of
                             # once per future microbatch over the store
                             F.expr(band_hashes_expr(hash_fn, num_hashes,
                                                     bands))
                             .alias("band_hashes"),
                             F.lit(run_at).cast("timestamp")
                             .alias("added_at")))
            self.state.append("corpus_signatures", kept_sigs)
            # our append stamped this batch's scheme — re-point the memo
            # at the new committed version so the next microbatch skips
            # the state scan (an external commit landing in this tiny
            # window would be validated under the append lease anyway)
            from sparvi_spark.sources.state import read_pointer

            self._sig_family_ok[corpus_name] = (
                (hash_fn, int(n), int(num_hashes)),
                read_pointer(self.state._path("corpus_signatures")))
        finally:
            if batch_kept is not None:
                batch_kept.unpersist()
            if signed is not None:
                signed.unpersist()
            docs.unpersist()
        summary = {
            "kept": kept, "n_in": n_in,
            "n_in_batch_dups": n_in - n_batch_kept,
            "n_vs_corpus_dups": n_batch_kept - n_kept,
            "n_kept": n_kept,
        }
        n_ib = summary["n_in_batch_dups"]
        n_vc = summary["n_vs_corpus_dups"]
        self.publish_event(
            "corpus_incremental_dedup", corpus_name,
            f"{n_kept}/{n_in} kept ({n_ib} in-batch, {n_vc} vs corpus)",
            run_at)
        return summary

    # ------------------------------------------------------------------ §3.6
    def run_incremental_profile(self, df: DataFrame, table_name: str,
                                partition_col: str,
                                numeric_cols: list[str]) -> DataFrame:
        """Durable incremental profiling: detect partitions whose row count
        changed since the stored sketch state, re-sketch ONLY those, merge
        into the persisted state families (stats / quantile histogram / HLL
        registers, parquet under the warehouse), and return the folded
        full-table profile. Per-run scan cost is proportional to changed
        data — the storage-layer version of the reference's adaptive
        re-collection intervals (change_analytics.py:179-271)."""
        import os

        from sparvi_spark.operators.incremental import (
            detect_changed_partitions,
            incremental_profile_full,
            partition_key,
        )
        from sparvi_spark.sources.state import (
            LeaseConflict,
            gc_versions,
            next_version,
            read_pointer,
            state_lease,
            verify_lease,
            write_pointer,
        )

        root = os.path.join(self.state.root, "incremental", table_name)
        # note: adding a family (r5: "topvalues") makes a pre-existing
        # warehouse probe as "no state" once — one full re-bootstrap on
        # upgrade, then incremental again
        families = ("stats", "quantiles", "distincts", "topvalues")
        bases = {k: os.path.join(root, k) for k in families}

        # ONE pointer snapshot drives both the state reads and the
        # optimistic pre-flip check: re-reading pointers at check time
        # would flag a competitor that committed between two reads of
        # OURS as staleness even when the fold used current state
        read_versions = {k: read_pointer(bases[k]) for k in families}

        def _committed(k: str) -> str | None:
            cur = read_versions[k]
            return None if cur is None else os.path.join(bases[k], cur)

        # probe existence THROUGH the Spark read (not os.path: always
        # false on object-store roots -> silent full-rescan bootstrap
        # every run; same rule as StateStore.read)
        states = None
        if all(_committed(k) is not None for k in families):
            try:
                states = {k: self.spark.read.parquet(_committed(k))
                          for k in families}
                states["stats"].schema  # force resolution
            except Exception as exc:
                if ("PATH_NOT_FOUND" in str(exc)
                        or "Path does not exist" in str(exc)):
                    states = None
                else:
                    raise

        changed = detect_changed_partitions(
            df, partition_col, None if states is None else states["stats"])
        # partitions DELETED upstream leave orphan state rows behind:
        # purge them from every family (they are absent from the scan, so
        # the refresh merge alone would never remove them). partition_value
        # is the NULL-safe sentinel key on both sides, so set difference
        # and the isin purge below treat a NULL partition like any other.
        deleted: list[str] = []
        if states is not None:
            current = {r[0] for r in df.select(
                partition_key(partition_col)).distinct().collect()}
            stored = {r[0] for r in states["stats"]
                      .select("partition_value").distinct().collect()}
            deleted = sorted(stored - current)
            if deleted:
                states = {k: v.where(~F.col("partition_value")
                                     .isin(deleted))
                          for k, v in states.items()}
        if states is None or changed or deleted:
            new_states, _ = incremental_profile_full(
                df, partition_col, numeric_cols, states=states,
                changed_partitions=None if states is None else changed)
            # two-phase commit across the state families: write EVERY new
            # version dir first (the merged-state plans still read the
            # committed dirs), then flip the pointers last — a crash
            # before any flip leaves all prior versions readable
            # (no partial state that the bootstrap probe would misread as
            # "no state"), and the flip itself is the atomic pointer
            # replace from sources.state. ONE lease on the table's
            # incremental root covers all families — they must flip as a
            # unit, and per-family leases could interleave two writers'
            # flips into a mixed (stale+fresh) state set. Ownership is
            # re-verified before the flip loop: a writer that stalled
            # past the TTL aborts rather than overwrite its successor.
            with state_lease(root) as lease_owner:
                # optimistic check: the fold was computed against the
                # versions read above; if another engine committed in
                # between, writing ours would drop its fold (logical
                # lost update, even though no committed dir is lost) —
                # fail and let the caller rerun against current state
                if any(read_pointer(bases[k]) != read_versions[k]
                       for k in families):
                    raise LeaseConflict(
                        f"state for {table_name} advanced since this "
                        f"run's read; rerun run_incremental_profile")
                versions = {}
                for k in families:
                    versions[k] = next_version(bases[k])
                    new_states[k].write.mode("overwrite").parquet(
                        os.path.join(bases[k], versions[k]))
                if not verify_lease(root, lease_owner):
                    raise LeaseConflict(
                        f"lost commit lease for {root} before pointer "
                        f"flip; versions left uncommitted for GC")
                for k in families:
                    write_pointer(bases[k], versions[k])
                    gc_versions(bases[k], grace_seconds=0)  # lease held
                read_versions = versions  # final read sees OUR commit
            self.publish_event(
                "incremental_profile", table_name,
                f"changed_partitions={len(changed)};"
                f"deleted_partitions={len(deleted)}")
        from sparvi_spark.operators.incremental import profile_from_states

        return profile_from_states(
            {k: self.spark.read.parquet(_committed(k)) for k in families})

    def incremental_top_values(self, table_name: str, k: int = 10) -> DataFrame:
        """Folded global top-K frequent values from the durable "topvalues"
        sketch family run_incremental_profile maintains — P8 without
        rescanning unchanged partitions (exact under the sketch's
        documented coverage condition, else per-value lower bounds)."""
        import os

        from sparvi_spark.operators.incremental import sketch_topk
        from sparvi_spark.sources.state import read_pointer

        base = os.path.join(self.state.root, "incremental", table_name,
                            "topvalues")
        current = read_pointer(base)
        if current is None:
            raise FileNotFoundError(
                f"no committed topvalues state for {table_name!r}; "
                f"run run_incremental_profile first")
        return sketch_topk(
            self.spark.read.parquet(os.path.join(base, current)), k=k)

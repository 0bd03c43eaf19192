"""Pipeline runner: the reference's control plane as one Python class.

Collapses Lambda trigger -> Step Functions 2-job DAG -> Glue jobs ->
DynamoDB audit -> SNS notify (SURVEY §2.5 O1-O6, §3.1) into direct
function calls:

    runner.on_file("tlc_taxi_data/yellow_taxi_trip_record/x.csv")

runs conform (Job 1) then transform (Job 2) synchronously
(parity: RUN_JOB integration, step_functions_stack.py:154-198),
single-flight with no retries (glue_stack.py:128-132), audits
STARTED/SUCCEEDED/FAILED transitions, and notifies with the CORRECT
subject per outcome — the reference swaps its success/failure SNS
subjects (step_functions_stack.py:129,148; SURVEY §1.5-2), an
acknowledged bug this engine fixes.
"""

from __future__ import annotations

import json
import traceback
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_cdk_pipelines_datalake_etl_spark.audit import AuditLog
from aws_cdk_pipelines_datalake_etl_spark.operators.conform import conform
from aws_cdk_pipelines_datalake_etl_spark.operators.transform import transform
from aws_cdk_pipelines_datalake_etl_spark.params import JobParams, make_job_params
from aws_cdk_pipelines_datalake_etl_spark.sources.sql_text import TransformNotFoundError


class DataQualityError(RuntimeError):
    """A conformed table failed the runner's data-quality gate."""

Notifier = Callable[[str, str], None]  # (subject, message)


@dataclass
class LakeLayout:
    """Three-zone layout (README.md:46; one local root instead of
    three buckets)."""

    root: str

    @property
    def raw(self) -> str:
        return f"{self.root}/raw"

    @property
    def conformed(self) -> str:
        return f"{self.root}/conformed"

    @property
    def purposebuilt(self) -> str:
        return f"{self.root}/purposebuilt"

    @property
    def audit(self) -> str:
        return f"{self.root}/_audit"


@dataclass
class RunResult:
    params: JobParams
    status: str  # SUCCEEDED | FAILED
    error_message: str | None = None
    conformed_rows: int | None = None
    # rows the purpose-built job wrote this run: the run's partition
    # only when it ran incrementally (operators/transform.py)
    purposebuilt_rows: int | None = None


@dataclass
class PipelineRunner:
    spark: SparkSession
    layout: LakeLayout
    transforms_dir: str | None = None
    notifier: Notifier | None = None
    clock: Callable[[], datetime] = field(
        default_factory=lambda: (lambda: datetime.now(timezone.utc))
    )
    # K8: the reference's df.show(5) console taps
    # (etl_raw_to_conformed.py:196,199,215); 0 = off (production)
    debug_sample_rows: int = 0
    # Optional data-quality gate between conform and transform: a
    # callable (conformed DataFrame) -> long-format report with a
    # boolean `passed` column (operators/quality.py builders compose
    # into exactly that).  Any failed check fails the run BEFORE the
    # purpose-built transform: audit FAILED + notify, purpose-built
    # untouched.  The conformed write has already happened — quarantine
    # is by audit status, not rollback; a corrected re-run overwrites
    # idempotently (K1).  Later runs that write only their own
    # partition (operators/transform.py) keep the failed partition out
    # of purpose-built; a later run that recomputes all history (a
    # first run, an edited SQL, a SQL that mixes partitions) still
    # picks it up from the conformed zone.
    dq_checks: Callable[[DataFrame], DataFrame] | None = None
    # Schema-drift policy for the conformed zone: "last_writer"
    # (reference semantics, default) or "merge" (opt-in evolution —
    # catalog only widens, new columns union in, narrowing files cast
    # back up; operators/conform.py::reconcile_schema)
    schema_policy: str = "last_writer"

    def __post_init__(self) -> None:
        self.audit = AuditLog(self.spark, self.layout.audit, clock=self.clock)

    def _notify(self, subject: str, payload: dict) -> None:
        """Publish the FULL state payload, not a one-liner — parity
        with the reference's SNS publish of the whole Step Functions
        state (`'$'`, step_functions_stack.py:125-131).  The message is
        one JSON document; the Notifier signature stays (subject,
        message-string) so any transport plugs in."""
        if self.notifier:
            self.notifier(subject, json.dumps(payload, sort_keys=True))

    def _payload(
        self,
        params: JobParams,
        status: str,
        error_message: str | None = None,
        conformed_rows: int | None = None,
        purposebuilt_rows: int | None = None,
    ) -> dict:
        return {
            **asdict(params),
            "target_database_name": params.target_database_name,
            "status": status,
            "error_message": error_message,
            "conformed_rows": conformed_rows,
            "purposebuilt_rows": purposebuilt_rows,
        }

    def on_file(
        self,
        key: str,
        execution_id: str | None = None,
        as_of: "datetime | None" = None,
    ) -> RunResult:
        """O1/O2: a file arrived in the raw zone at ``<raw>/<key>``.

        Parity with the trigger lambda (lambda_handler.py:62-143):
        parse key, stamp ingest-date partitions, audit STARTED, then
        run the 2-job DAG with failure edges (§3.1).  ``as_of`` pins
        the ingest clock for this run only (see :meth:`backfill`).
        """
        now = as_of or self.clock()
        params = make_job_params(
            self.layout.raw, key, now=now, execution_id=execution_id
        )
        execution_name = (
            f"{params.base_file_name}-{now.strftime('%Y%m%d%H%M%S%f')}"
        )
        self.audit.insert_started(
            execution_id=params.execution_id,
            execution_name=execution_name,
            pipeline_id="datalake-etl-spark",
            job_input=json.dumps(
                {
                    "target_databasename": params.target_database_name,
                    "table_name": params.table_name,
                    "base_file_name": params.base_file_name,
                    "source_path": params.source_path,
                    "p_year": params.p_year,
                    "p_month": params.p_month,
                    "p_day": params.p_day,
                }
            ),
        )
        return self._run_dag(params)

    def backfill(self, key: str, as_of: "datetime") -> RunResult:
        """Re-run a raw file AS OF a past ingest date — the repair
        path the reference lacks (its partitions come from trigger
        time, lambda_handler.py:93-103, so a late re-drop lands in the
        wrong date).  The run is identical to :meth:`on_file` except
        the ingest clock is pinned to ``as_of``: year/month/day stamp
        to the original date, and K1's dynamic partition overwrite
        confines the rewrite to exactly those partitions — current
        data is untouched, re-running is idempotent, and the audit
        trail records the backfill as a normal execution."""
        return self.on_file(key, as_of=as_of)

    def _run_dag(self, params: JobParams) -> RunResult:
        """O5: conform -> transform with catch edges to FAILED+notify
        (step_functions_stack.py:154-205)."""
        try:
            conformed = conform(
                self.spark,
                params,
                self.layout.conformed,
                sample_rows=self.debug_sample_rows,
                schema_policy=self.schema_policy,
            )
            conformed_rows = conformed.n_rows  # observed during the write
            if self.dq_checks is not None:
                report = self.dq_checks(conformed.table)
                failed = report.filter(~F.col("passed")).collect()
                if failed:
                    detail = "; ".join(
                        f"{r['check_name']}({r['target']})={r['value']}"
                        for r in failed
                    )
                    raise DataQualityError(
                        f"data quality gate failed: {detail}"
                    )
            try:
                built = transform(
                    self.spark,
                    params,
                    self.layout.conformed,
                    self.layout.purposebuilt,
                    transforms_dir=self.transforms_dir,
                )
                purposebuilt_rows = built.n_rows  # observed during the write
            except TransformNotFoundError:
                # No transform registered for this table: conformance
                # alone is a valid pipeline outcome.
                purposebuilt_rows = None
            self.audit.update_status(params.execution_id, "SUCCEEDED")
            self._notify(
                "Job Completed",
                self._payload(
                    params,
                    "SUCCEEDED",
                    conformed_rows=conformed_rows,
                    purposebuilt_rows=purposebuilt_rows,
                ),
            )
            return RunResult(
                params,
                "SUCCEEDED",
                conformed_rows=conformed_rows,
                purposebuilt_rows=purposebuilt_rows,
            )
        except Exception as exc:  # noqa: BLE001 — failure edge mirrors add_catch
            msg = "".join(
                traceback.format_exception_only(type(exc), exc)
            ).strip()
            self.audit.update_status(params.execution_id, "FAILED", error_message=msg)
            self._notify(
                "Job Failed", self._payload(params, "FAILED", error_message=msg)
            )
            return RunResult(params, "FAILED", error_message=msg)

    def scan_raw_zone(self) -> list[RunResult]:
        """Directory-poll variant of the S3 OBJECT_CREATED trigger
        (O1): process every file currently in the raw zone."""
        return self.watch(polls=1)

    def watch(
        self,
        polls: int,
        poll_seconds: float = 1.0,
        sleep: Callable[[float], None] | None = None,
        ledger_path: str | None = None,
    ) -> list[RunResult]:
        """Continuous O1 trigger: poll the raw zone ``polls`` times,
        firing the 2-job DAG once per NEWLY seen file (arrival order).

        The long-running sibling of :meth:`scan_raw_zone` — what the
        reference's S3-event → Lambda wiring does, minus AWS.  Files
        are keyed by relative path; re-delivering the same key is safe
        anyway (dynamic-partition-overwrite idempotency, K1), so a
        restart that loses the seen-set only rewrites partitions.

        With ``ledger_path`` the seen-set is durable: each
        *successfully* processed key is appended (one line, flushed)
        and reloaded on start, so a restarted watcher skips everything
        already done — exactly-once *processing* on top of the
        at-least-once/idempotent base.  FAILED keys are deliberately
        NOT written: within one watch run the in-memory seen-set
        stops hot-loop retries, but a restart retries them (safe —
        dynamic-partition overwrite is idempotent, K1), so a transient
        failure never becomes silent data loss.  The ledger is
        driver-side control metadata (keys, not data); at lake scale
        it stays tiny.

        Migration note: ledgers written before this success-only
        format ALSO recorded FAILED keys; a restarted watcher would
        skip those.  To force their retry, delete the ledger (or the
        offending lines) — the audit log's :meth:`AuditLog.
        latest_status` identifies executions whose final status is
        FAILED, and re-processing skipped-but-succeeded keys is safe
        regardless (idempotent overwrite).
        ``sleep`` is injectable so tests drive arrivals
        deterministically.
        """
        import time as _time

        do_sleep = sleep or _time.sleep
        seen: set[str] = set()
        if ledger_path and Path(ledger_path).is_file():
            seen.update(
                line.strip()
                for line in Path(ledger_path).read_text().splitlines()
                if line.strip()
            )
        ledger = open(ledger_path, "a") if ledger_path else None
        results: list[RunResult] = []
        try:
            for i in range(polls):
                root = Path(self.layout.raw)
                if root.is_dir():
                    for p in sorted(root.rglob("*")):
                        if p.is_file():
                            key = str(p.relative_to(root))
                            if key not in seen:
                                seen.add(key)
                                result = self.on_file(key)
                                results.append(result)
                                if ledger and result.status == "SUCCEEDED":
                                    ledger.write(key + "\n")
                                    ledger.flush()
                if i < polls - 1:
                    do_sleep(poll_seconds)
        finally:
            if ledger:
                ledger.close()
        return results

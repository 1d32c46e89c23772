"""Pipeline orchestration (SURVEY.md §2.4 C1–C5) — Spark-native.

The reference splits extract/transform/load into Airflow tasks that ship the
whole dataset through XCom pickles (``Template-to-MySQL/
BigQuery-to-MySQL-Method-1.py:67``); here a pipeline is ONE lazy DataFrame
plan — source → transforms → sink — with retry and notification hooks around
the single action. The loaded record count (C5) is observed on that action:
the sink counts its own rows, or writes through a Dataset action that carries
an ``Observation``, so nothing is cached and nothing is scanned twice.
Scheduling stays external (cron/Airflow submitting ``spark-submit``),
matching C1's ``@daily``.
"""

from __future__ import annotations

import logging
import smtplib
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from email.mime.text import MIMEText

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

log = logging.getLogger(__name__)

# How long ``Pipeline.run`` waits for a sink's row-count observation after
# the sink returns. The listener that completes it runs asynchronously, a few
# ms after the write; one that has not fired by then never will.
_OBSERVATION_WAIT_S = 10.0


def smtp_sender(
    server_address: str,
    sender_email: str,
    recipient_emails: list[str],
    port: int = 25,
    smtp_factory: Callable[[str, int], object] = smtplib.SMTP,
) -> Callable[[str, str], None]:
    """Build an SMTP ``send(subject, body)`` matching reference C4
    (``Template-to-MySQL/BigQuery-to-MySQL-Method-1.py:35-46``): plain-text
    MIMEText, From/To/Subject headers, ``sendmail`` then ``quit``; send
    failures are logged, never raised (the reference prints and continues —
    a notification must not fail the load it reports on).

    ``smtp_factory`` is injectable for tests (any object with
    ``sendmail``/``quit``).
    """

    def send(subject: str, body: str) -> None:
        try:
            server = smtp_factory(server_address, port)
            msg = MIMEText(body)
            msg["From"] = sender_email
            msg["To"] = ", ".join(recipient_emails)
            msg["Subject"] = subject
            server.sendmail(sender_email, recipient_emails, msg.as_string())
            server.quit()
            log.info("Email notification sent successfully!")
        except Exception as e:  # noqa: BLE001 — reference swallows and logs
            log.error("Failed to send email: %s", e)

    return send


@dataclass
class Notifier:
    """Success/failure notification hook (reference C4: SMTP emails with the
    loaded record count, ``BigQuery-to-MySQL-Method-1.py:35-46,:86``).

    ``send`` is injectable; the default logs. An SMTP sender plugs in as
    ``Notifier(send=smtp_send)`` without touching pipeline code.
    """

    send: Callable[[str, str], None] = lambda subject, body: log.info(
        "%s: %s", subject, body
    )

    def success(self, pipeline: str, n_records: int) -> None:
        self.send(
            f"Data Load Successful: {pipeline}",
            f"The data load has completed successfully. Records: {n_records}",
        )

    def failure(self, pipeline: str, error: Exception) -> None:
        self.send(
            f"Data Load Failed: {pipeline}",
            f"The data load has failed: {error}",
        )


@dataclass
class Pipeline:
    """Declarative extract→transform→load spec.

    - ``source``:     (spark) -> DataFrame  (lazy scan)
    - ``transforms``: list of DataFrame -> DataFrame
    - ``sink``:       (DataFrame) -> int | None  (the single action)
    - ``retries``/``retry_delay``: reference C1 default_args
      (1 retry / 5 min, ``BigQuery-to-MySQL-Method-1.py:17-18``; tests use
      a tiny delay).

    Returns the loaded record count (C5 — the reference's only metric),
    taken from the sink's own action. Each attempt hands the sink a frame
    observed with a fresh ``Observation`` counting its rows. A sink that
    returns an ``int`` has counted its rows itself, and that count is used
    (``JdbcUpsertWriter.write`` does: its RDD action fires no observation).
    A sink that returns ``None`` must write through a Dataset action
    (``df.write...``), whose observation supplies the count; its first
    Dataset action over the frame is the one counted. A ``None`` sink whose
    observation never fires fails the attempt with a ``RuntimeError``.
    """

    name: str
    source: Callable[[SparkSession], DataFrame]
    sink: Callable[[DataFrame], int | None]
    transforms: list[Callable[[DataFrame], DataFrame]] = field(default_factory=list)
    notifier: Notifier = field(default_factory=Notifier)
    retries: int = 1
    retry_delay: float = 300.0

    def build(self, spark: SparkSession) -> DataFrame:
        """Compose the lazy plan without executing it."""
        df = self.source(spark)
        for t in self.transforms:
            df = t(df)
        return df

    def run(self, spark: SparkSession) -> int:
        attempt = 0
        while True:
            try:
                obs = Observation()
                df = self.build(spark).observe(obs, F.count(F.lit(1)).alias("rows"))
                n = self.sink(df)
                if n is None:
                    n = self._observed_rows(obs)
                self.notifier.success(self.name, n)
                return n
            except Exception as exc:  # noqa: BLE001 — notify then retry/raise
                self.notifier.failure(self.name, exc)
                attempt += 1
                if attempt > self.retries:
                    raise
                log.warning(
                    "pipeline %s attempt %d failed (%s); retrying in %.0fs",
                    self.name,
                    attempt,
                    exc,
                    self.retry_delay,
                )
                time.sleep(self.retry_delay)

    def _observed_rows(self, obs: Observation) -> int:
        """The row count of the sink's Dataset action. ``Observation.get``
        would block forever on an observation that never fires, so wait on
        its future with a bound first."""
        future = obs._jo.future()
        deadline = time.monotonic() + _OBSERVATION_WAIT_S
        while not future.isCompleted():
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"pipeline {self.name}: the sink returned None but ran no "
                    "Dataset action over its frame, so no row count was "
                    "observed. A sink must write through a Dataset action "
                    "(df.write...) or return the number of rows it loaded."
                )
            time.sleep(0.001)
        return obs.get["rows"]

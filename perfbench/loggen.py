"""Seeded OTel log generator for the benchmark workloads.

Modelled on the reference firehose (FIXTURES.md §A1; rates from
BASELINE.md): 100 logs per logical second, six services, severity
weights DEBUG/INFO/WARN/ERROR/FATAL = 5/70/15/8/2, one envelope per log
record. On top of the random background it emits three planted patterns
whose detection outcome is known by construction:

* ``steady``  - an INFO heartbeat at a fixed period; its per-window count
  never moves, so the rhythm detector must never flag it.
* ``spike``   - an ERROR "Service Unavailable" line, one pattern per
  service, each at a fixed period short enough to be in every baseline
  sample; :meth:`Firehose.spike` bursts one service's pattern far above
  its baseline rate: a frequency anomaly.
* ``novel``   - a FATAL pattern that never occurs before
  :meth:`Firehose.novel` plants it: a novelty anomaly. Each ``tag``
  gives a pattern with its own rhythm hash (the template keeps words,
  masks numbers).

Planted sizes follow the reference streamer's injection rates
(BASELINE.md: novel 0.2 %, frequency spike 1 %) as shares of the
detection window they land in (:func:`plant_sizes`).

Every random draw comes from a generator seeded by ``(seed, slice
start)``, so a slice renders byte-identically however the caller walks
the timeline.
"""

from __future__ import annotations

import json
import random

SERVICES = (
    "auth-service",
    "payment-service",
    "api-gateway",
    "user-service",
    "notification-service",
    "db-cluster",
)
SEVERITIES = ("DEBUG", "INFO", "WARN", "ERROR", "FATAL")
SEVERITY_WEIGHTS = (5, 70, 15, 8, 2)
SEVERITY_NUMBER = {"DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

# {} placeholders are filled with random integers, which the engine's
# template() masks — so each entry is one template per (service, severity).
BACKGROUND = {
    "DEBUG": (
        "Cache lookup key=user:{} took {} ms",
        "Connection pool size {} active {}",
    ),
    "INFO": (
        "Request GET /api/v1/items/{} completed in {} ms",
        "User {} logged in from 10.0.{}.{}",
        "Order {} processed in {} ms",
        "Background job {} finished",
    ),
    "WARN": (
        "Slow query detected duration={} ms rows={}",
        "Retrying request attempt {} of {}",
    ),
    "ERROR": (
        "Database timeout after {} ms on pool {}",
        "Failed to send notification id={}",
    ),
    "FATAL": (
        "Out of memory: killed process {}",
        "Kernel panic on node {}",
    ),
}

STEADY = ("user-service", "INFO", "Heartbeat ok from node {}")
SPIKE = ("ERROR", "Service Unavailable: Upstream failure - retrying {}")
NOVEL = ("db-cluster", "FATAL", "Quantum entanglement decoherence in {} lattice shard {}")


def envelope(ts: int, service: str, severity: str, body: str,
             trace_id: str, span_id: str) -> dict:
    """One OTel-JSON envelope holding one log record (``ts`` in seconds)."""
    return {
        "resourceLogs": [
            {
                "resource": {
                    "attributes": [
                        {"key": "host.name", "value": {"stringValue": f"node-{SERVICES.index(service)}"}},
                        {"key": "service.name", "value": {"stringValue": service}},
                    ]
                },
                "scopeLogs": [
                    {
                        "logRecords": [
                            {
                                "timeUnixNano": str(ts * 1_000_000_000),
                                "traceId": trace_id,
                                "spanId": span_id,
                                "severityNumber": SEVERITY_NUMBER[severity],
                                "severityText": severity,
                                "body": {"stringValue": body},
                            }
                        ]
                    }
                ],
            }
        ]
    }


def body_of(env: dict) -> str:
    return env["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]["body"]["stringValue"]


def _ts(env: dict) -> int:
    return int(env["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]["timeUnixNano"]) // 10**9


def to_jsonl(envelopes: list[dict]) -> str:
    return "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in envelopes)


# Envelopes per logical second (the reference streamer's LOGS_PER_SECOND),
# and the periods (seconds) of the heartbeat and of each service's
# spike-pattern baseline. A baseline sample of 2000 points covers 20 s,
# so it always holds 4 heartbeats and 2 baseline lines of every service.
RATE = 100
STEADY_PERIOD = 5
SPIKE_PERIOD = 10
SPIKE_SHARE, NOVEL_SHARE = 0.01, 0.002


def plant_sizes(window_sec: int) -> tuple[int, int]:
    """(spike, novel) envelopes to plant in a ``window_sec`` window."""
    n = RATE * window_sec
    return round(SPIKE_SHARE * n), round(NOVEL_SHARE * n)


class Firehose:
    """Deterministic log timeline for one seed."""

    def __init__(self, seed: int):
        self.seed = seed

    def _rng(self, t0: int, salt: int = 0) -> random.Random:
        return random.Random((self.seed * 1_000_003 + t0) * 7 + salt)

    def _env(self, rng: random.Random, ts: int, service: str, severity: str,
             body: str) -> dict:
        return envelope(ts, service, severity, body,
                        f"{rng.getrandbits(128):032x}", f"{rng.getrandbits(64):016x}")

    def slice(self, t0: int, t1: int, planted: list[dict] = ()) -> list[dict]:
        """``RATE * (t1 - t0)`` envelopes with ts in ``[t0, t1)``, ordered
        by ts: the steady and spike-baseline lines, ``planted`` (envelopes
        from :meth:`spike` / :meth:`novel`) and random background for the
        rest."""
        rng = self._rng(t0)
        out: list[tuple[int, dict]] = []
        for ts in range(-(-t0 // STEADY_PERIOD) * STEADY_PERIOD, t1, STEADY_PERIOD):
            svc, sev, tmpl = STEADY
            out.append((ts, self._env(rng, ts, svc, sev, tmpl.format(ts % 97))))
        sev, tmpl = SPIKE
        for k, svc in enumerate(SERVICES):
            first = -(-(t0 - k) // SPIKE_PERIOD) * SPIKE_PERIOD + k
            for ts in range(first, t1, SPIKE_PERIOD):
                out.append((ts, self._env(rng, ts, svc, sev, tmpl.format(ts % 7))))
        out += [(_ts(e), e) for e in planted]
        n = RATE * (t1 - t0) - len(out)
        if n < 0:
            raise ValueError(f"{len(planted)} planted envelopes do not fit [{t0}, {t1})")
        for _ in range(n):
            ts = rng.randrange(t0, t1)
            service = rng.choice(SERVICES)
            severity = rng.choices(SEVERITIES, SEVERITY_WEIGHTS)[0]
            tmpl = rng.choice(BACKGROUND[severity])
            body = tmpl.format(*(rng.randrange(1, 10_000) for _ in range(tmpl.count("{}"))))
            out.append((ts, self._env(rng, ts, service, severity, body)))
        out.sort(key=lambda x: x[0])  # stable: equal ts keep their draw order
        return [e for _, e in out]

    def spike(self, t0: int, t1: int, service: str, n: int) -> list[dict]:
        """``n`` extra envelopes of ``service``'s spike pattern in ``[t0, t1)``."""
        rng = self._rng(t0, salt=1)
        sev, tmpl = SPIKE
        return [
            self._env(rng, t0 + i * (t1 - t0) // n, service, sev, tmpl.format(i % 7))
            for i in range(n)
        ]

    def novel(self, t0: int, t1: int, tag: str, n: int) -> list[dict]:
        """``n`` envelopes of the never-before-seen pattern named ``tag``."""
        rng = self._rng(t0, salt=2)
        svc, sev, tmpl = NOVEL
        return [
            self._env(rng, t0 + i * (t1 - t0) // n, svc, sev, tmpl.format(tag, i))
            for i in range(n)
        ]


def novel_tag(i: int) -> str:
    """A word-only tag (numbers would be masked by the template) unique per ``i``."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    word = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        word = letters[r] + word
    return "zeta" + word

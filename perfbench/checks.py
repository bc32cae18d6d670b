"""Output checks. Each returns ``None`` when the engine's answer is right
and a one-line reason when it is not; a reason marks the operation
failed, so it counts in ``failed`` and ``correct``."""

from __future__ import annotations

STEADY_MARK = "Heartbeat ok"
SPIKE_MARK = "Service Unavailable"


def flagged(detection: dict) -> list[dict]:
    return detection["novel_anomalies"] + detection["frequency_anomalies"]


def ingested(result: dict, sent: int) -> str | None:
    """``ingest_stream`` wrote exactly the envelopes sent."""
    got = result["tier1_ingested"]
    return None if got == sent else f"ingested {got} of {sent} envelopes"


def exactly_once(rows: int, written: int) -> str | None:
    """A streaming drain committed every envelope once."""
    return None if rows == written else f"tier 1 holds {rows} of {written} envelopes"


def planted_flagged(detection: dict, tag: str, spiked: str) -> str | None:
    """The first detection after a plant flags the novel pattern ``tag``
    and the spike on ``spiked``, and never the steady heartbeat."""
    novel = [a for a in detection["novel_anomalies"] if tag in a["body"]]
    spike = [a for a in detection["frequency_anomalies"]
             if SPIKE_MARK in a["body"] and a["service"] == spiked]
    if not novel:
        return f"planted novelty {tag!r} not flagged"
    if not spike:
        return f"planted frequency spike on {spiked} not flagged"
    return steady_not_flagged(detection)


def steady_not_flagged(detection: dict) -> str | None:
    if any(STEADY_MARK in a["body"] for a in flagged(detection)):
        return "steady heartbeat flagged"
    return None


def suppressed_absent(detection: dict, target: str) -> str | None:
    """A suppressed hash is gone from the next detection."""
    if any(a["rhythm_hash"] == target for a in flagged(detection)):
        return f"suppressed hash {target} flagged again"
    return steady_not_flagged(detection)


def cluster_absent(rows: list, target: str) -> str | None:
    """A suppressed hash is gone from the next ``tier2_clusters`` result."""
    if any(r["cluster_id"] == target for r in rows):
        return f"suppressed hash {target} in tier2_clusters"
    return None


def rule_listed(rules: list[dict], target: str) -> str | None:
    if any(r["rhythm_hash"] == target and r["rule"] == "SUPPRESS" for r in rules):
        return None
    return f"suppression of {target} not listed"


def planted_promoted(novel_rows: int, spike_rows: int) -> str | None:
    """Both planted anomalies of a streaming drain reached tier 2."""
    if novel_rows and spike_rows:
        return None
    return f"planted anomalies in tier 2: novelty={novel_rows} spike={spike_rows}"

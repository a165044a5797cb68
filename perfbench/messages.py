"""The ``ingest_live`` message plan: every message the generator will
publish, derived from the seed alone, with the outcome the daemon must
produce for it.

Each message carries its plan id in the payload's ``value`` (numbers as
``id + 0.25``, strings as ``"v<id>"``), so a row found in ``readings``
or ``_dead_letter`` maps back to the message that produced it.
"""

from __future__ import annotations

import json
import random
import re
from dataclasses import dataclass

SENSORS = [f"s{i:02d}" for i in range(20)]
#: a few sensors carry string readings; the rest are numeric
STRING_SENSORS = frozenset({"s17", "s18", "s19"})
DEVICES = [f"dev{i}" for i in range(4)]
CLIENT = "c0"

RATE_PER_S = 25
BACKLOG = 600
REJECT_SHARE = 0.02
CONFLICT_SHARE = 0.01
REJECT_REASONS = ("invalid_topic", "invalid_json", "missing_value", "unsupported_type")
MISMATCH = "schema_mismatch"

_ID_RE = re.compile(r"\d+")


@dataclass(frozen=True)
class Message:
    id: int
    topic: str
    payload: bytes
    #: ("readings", table, device, value_type, value) or ("dead", reason)
    expect: tuple


def _topic(sensor: str, device: str) -> str:
    return f"/{CLIENT}/{device}/out/sensors/{sensor}"


def _value(mid: int, string: bool):
    return f"v{mid}" if string else mid + 0.25


def _valid(mid: int, sensor: str, device: str) -> Message:
    string = sensor in STRING_SENSORS
    v = _value(mid, string)
    return Message(
        mid, _topic(sensor, device), json.dumps({"value": v}).encode(),
        ("readings", sensor, device, "String" if string else "Float64", v),
    )


def _reject(mid: int, sensor: str, device: str, reason: str) -> Message:
    v = mid + 0.25
    topic = _topic(sensor, device)
    if reason == "invalid_topic":
        topic, payload = f"/{CLIENT}/{device}/{sensor}", json.dumps({"value": v})
    elif reason == "invalid_json":
        payload = f'{{"value": {v}'
    elif reason == "missing_value":
        payload = json.dumps({"reading": v})
    else:
        payload = json.dumps({"value": [mid]})
    return Message(mid, topic, payload.encode(), ("dead", reason))


def _conflict(mid: int, sensor: str, device: str) -> Message:
    """A reading of the other type than the sensor was created with."""
    v = _value(mid, sensor not in STRING_SENSORS)
    return Message(mid, _topic(sensor, device), json.dumps({"value": v}).encode(),
                   ("dead", MISMATCH))


def plan(seed: int, open_loop_s: int) -> dict[str, list[Message]]:
    """Three phases, in publish order: ``warmup`` (one valid reading per
    sensor and device, which creates every table with its type),
    ``backlog`` (``BACKLOG`` messages) and ``open_loop`` (``RATE_PER_S``
    × ``open_loop_s`` messages)."""
    rng = random.Random(seed)
    warmup = [
        _valid(i, s, d)
        for i, (s, d) in enumerate((s, d) for s in SENSORS for d in DEVICES)
    ]
    n_body = RATE_PER_S * open_loop_s + BACKLOG
    body = []
    for k in range(n_body):
        mid = len(warmup) + k
        sensor, device = rng.choice(SENSORS), rng.choice(DEVICES)
        u = rng.random()
        if u < REJECT_SHARE:
            body.append(_reject(mid, sensor, device, REJECT_REASONS[rng.randrange(4)]))
        elif u < REJECT_SHARE + CONFLICT_SHARE:
            body.append(_conflict(mid, sensor, device))
        else:
            body.append(_valid(mid, sensor, device))
    return {"warmup": warmup, "backlog": body[:BACKLOG], "open_loop": body[BACKLOG:]}


def message_id(text: str) -> int | None:
    """The plan id a dead-letter payload carries (first integer in it)."""
    m = _ID_RE.search(text)
    return int(m.group()) if m else None

import json

import messages


def _bytes(plan):
    return b"\n".join(
        json.dumps([m.id, m.topic, m.payload.decode(), list(m.expect)]).encode()
        for phase in ("warmup", "open_loop", "backlog")
        for m in plan[phase]
    )


def test_same_seed_gives_byte_identical_inputs():
    assert _bytes(messages.plan(7, 10)) == _bytes(messages.plan(7, 10))


def test_other_seed_gives_other_inputs():
    assert _bytes(messages.plan(7, 10)) != _bytes(messages.plan(8, 10))


def test_plan_shape():
    p = messages.plan(3, 10)
    assert len(p["warmup"]) == len(messages.SENSORS) * len(messages.DEVICES)
    assert len(p["open_loop"]) == messages.RATE_PER_S * 10
    assert len(p["backlog"]) == messages.BACKLOG
    ids = [m.id for ph in p.values() for m in ph]
    assert ids == list(range(len(ids)))
    # the warm-up creates every table with its type, before any conflict
    assert {m.expect[0] for m in p["warmup"]} == {"readings"}
    reasons = {m.expect[1] for ph in ("open_loop", "backlog") for m in p[ph]
               if m.expect[0] == "dead"}
    assert reasons == set(messages.REJECT_REASONS) | {messages.MISMATCH}


def test_every_payload_carries_its_id():
    p = messages.plan(5, 10)
    for ph in p.values():
        for m in ph:
            assert messages.message_id(m.payload.decode()) == m.id

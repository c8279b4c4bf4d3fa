"""Hypothesis property tests over the PURE-PYTHON cores (no Spark
session — these run in milliseconds per example and explore input
shapes the hand-written fixtures and scenario fuzzers never will).

Three load-bearing invariants:
  - state-machine replay-split invariance: splitting any event sequence
    at any batch boundary and threading the state must emit exactly the
    one-shot rows with the same final state — the property that makes
    micro-batch boundaries (and checkpoint restarts) semantically
    invisible;
  - the bounded union-find fast path agrees with an independent
    reachability oracle on arbitrary graphs (self-loops, duplicate and
    reversed edges included) and labels every component by its minimum;
  - the PNG codec is lossless for arbitrary image bytes at arbitrary
    shapes (every scanline filter type in play once h >= 5).
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

BASE = dt.datetime(2024, 7, 1, 8, 0, 0)

_EVENT_TYPES = [
    "task-queue.entered",
    "task.transfer-initiated",
    "reservation.created",
    "reservation.accepted",
    "reservation.rejected",
    "reservation.timeout",
    "reservation.canceled",
    "reservation.rescinded",
    "reservation.completed",
    "reservation.wrapup",
    "task.canceled",
    "task.transfer-failed",
    "task.completed",
]


@st.composite
def _event_sequences(draw):
    n = draw(st.integers(min_value=1, max_value=14))
    rsids = ["R1", "R2", "R3"]
    events = []
    t = BASE
    for i in range(n):
        t = t + dt.timedelta(
            seconds=draw(st.integers(min_value=0, max_value=400)),
            milliseconds=draw(st.integers(min_value=0, max_value=999)),
        )
        events.append(
            {
                "eventtype": draw(st.sampled_from(_EVENT_TYPES)),
                "ts": t.isoformat(),
                "task_sid": "T1",
                "reservation_sid": draw(st.sampled_from(rsids)),
                "worker_sid": "W1",
                "custom_segment_link": draw(
                    st.sampled_from([None, "L1"])
                ),
                "raw": f"raw-{i}",
                "event_id": f"E{i}",
                "arrival_idx": i,
                "wtip": None,
            }
        )
    return events


@settings(max_examples=300, deadline=None)
@given(events=_event_sequences(), data=st.data())
def test_conversation_machine_split_invariance(events, data):
    """For ANY event sequence (including nonsensical orderings the
    domain fuzzers never produce) and ANY split point, batch-split
    replay == one-shot: same rows, same final state. Also: the machine
    never raises on malformed orderings."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _segment_rows_for_task,
    )

    one_shot, st_full = _segment_rows_for_task(
        [dict(e) for e in events], {}, timed_out=False
    )
    cut = data.draw(st.integers(min_value=0, max_value=len(events)))
    r1, mid = _segment_rows_for_task(
        [dict(e) for e in events[:cut]], {}, timed_out=False
    )
    r2, st_split = _segment_rows_for_task(
        [dict(e) for e in events[cut:]], mid, timed_out=False
    )
    assert r1 + r2 == one_shot
    assert st_split == st_full


@settings(max_examples=300, deadline=None)
@given(events=_event_sequences(), data=st.data())
def test_conversation_machine_timeout_after_split_is_pure(events, data):
    """Timing out the split-threaded state emits exactly what timing out
    the one-shot state emits (checkpoint-restart then timeout == no
    restart then timeout)."""
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _segment_rows_for_task,
    )

    _, st_full = _segment_rows_for_task(
        [dict(e) for e in events], {}, timed_out=False
    )
    cut = data.draw(st.integers(min_value=0, max_value=len(events)))
    _, mid = _segment_rows_for_task(
        [dict(e) for e in events[:cut]], {}, timed_out=False
    )
    _, st_split = _segment_rows_for_task(
        [dict(e) for e in events[cut:]], mid, timed_out=False
    )
    t_full, _ = _segment_rows_for_task([], st_full, timed_out=True)
    t_split, _ = _segment_rows_for_task([], st_split, timed_out=True)
    assert t_split == t_full


@settings(max_examples=300, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=10),
    wtips=st.lists(st.one_of(st.none(), st.integers(0, 10**6)), max_size=10),
    data=st.data(),
)
def test_agent_machine_split_invariance(n, wtips, data):
    from twilio_event_streams_reporting_example_spark.streaming.taskrouter_stream import (
        _agent_rows_for_worker,
    )

    events = [
        {
            "eventtype": "worker.activity.update",
            "ts": (BASE + dt.timedelta(seconds=60 * i)).isoformat(),
            "raw": f"raw-{i}",
            "wtip": wtips[i] if i < len(wtips) else None,
        }
        for i in range(n)
    ]
    one_shot, open_full = _agent_rows_for_worker(list(events), {})
    cut = data.draw(st.integers(min_value=0, max_value=n))
    r1, mid = _agent_rows_for_worker(events[:cut], {})
    r2, open_split = _agent_rows_for_worker(events[cut:], mid)
    assert r1 + r2 == one_shot
    assert open_split == open_full


@settings(max_examples=200, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=80
    )
)
def test_local_cc_matches_reachability_oracle(edges):
    """The union-find core behind the graph fast path vs an independent
    BFS reachability oracle: identical components, every node labeled by
    its component minimum. (The Spark DataFrame wrapper is covered in
    tests/test_graph.py.)"""
    from twilio_event_streams_reporting_example_spark.operators.graph import (
        _union_find,
    )

    # independent oracle: BFS over an adjacency map
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen: set = set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = set(), [start]
        while frontier:
            x = frontier.pop()
            if x in comp:
                continue
            comp.add(x)
            frontier.extend(adj[x] - comp)
        seen |= comp
        m = min(comp)
        for x in comp:
            want[x] = m

    assert _union_find(edges) == want


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_codec_lossless_any_shape(h, w, seed):
    import numpy as np

    from twilio_event_streams_reporting_example_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    assert (decode_png(encode_png(img)) == img).all()


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ss=st.sampled_from(["444", "420", "422", "440"]),
    ri=st.integers(min_value=0, max_value=3),
)
def test_jpeg_progressive_equals_sequential_any_shape(h, w, seed, ss, ri):
    """PROPERTY: for every image/subsampling/restart-interval, decoding
    the progressive stream reproduces the sequential decode bit-exactly
    (identical quantized coefficients => any divergence is an entropy-
    coding bug in one of the four scan coders)."""
    import numpy as np

    from twilio_event_streams_reporting_example_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8
    )
    base = decode_jpeg(encode_jpeg(img, subsampling=ss, restart_interval=ri))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, subsampling=ss, restart_interval=ri)
    )
    assert (base == prog).all()


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    depth=st.sampled_from([8, 16]),
)
def test_png_adam7_reassembles_any_shape(h, w, seed, depth):
    """PROPERTY: an Adam7-interlaced PNG (each of the 7 sub-images
    filtered independently, hand-assembled from the pass layout)
    decodes to the exact original at every size — in particular sizes
    where some passes are EMPTY (w or h < pass offset) or partial."""
    import struct
    import zlib

    import numpy as np

    from twilio_event_streams_reporting_example_spark.operators.multimodal import (
        _ADAM7,
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    rng = np.random.default_rng(seed)
    if depth == 8:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        px = img
    else:
        img = rng.integers(0, 65536, (h, w, 3), dtype=np.uint16)
        px = img.astype(">u2").view(np.uint8).reshape(h, w, 6)
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            parts.append(b"\x00" + row.tobytes())
    blob = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, 2, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(b"".join(parts)))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(blob) == img).all()

"""Property-based tests (SURVEY §5.2: slot-logic property checks) over the
pure functions — no SparkSession needed, so hypothesis can run hundreds of
cases cheaply."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_lookout_for_equipment_python_sdk_spark.functions.datetime_utils import (
    iso8601_duration_to_seconds,
    parse_tz_offset_minutes,
    tz_offset_string,
)
from amazon_lookout_for_equipment_python_sdk_spark.streaming.scheduler import (
    next_wakeup,
    slot_bounds_for,
)

_TS = st.datetimes(
    min_value=datetime(2000, 1, 1), max_value=datetime(2100, 1, 1)
)
_FREQ = st.sampled_from([5, 10, 15, 30, 60])


@given(ts=_TS, freq=_FREQ)
@settings(max_examples=300)
def test_every_instant_in_exactly_one_slot(ts, freq):
    start, end = slot_bounds_for(ts, freq)
    # containment
    assert start <= ts <= end + timedelta(seconds=1)
    assert start <= ts  # floor never exceeds
    # width and alignment (reference scheduler.py:153-164)
    assert end - start == timedelta(minutes=freq, seconds=-1)
    assert start.minute % freq == 0 and start.second == 0
    # idempotent: any instant inside the slot maps back to the same slot
    s2, e2 = slot_bounds_for(start, freq)
    assert (s2, e2) == (start, end)
    s3, e3 = slot_bounds_for(end, freq)
    assert (s3, e3) == (start, end)


@given(ts=_TS, freq=_FREQ)
@settings(max_examples=200)
def test_next_wakeup_is_next_boundary(ts, freq):
    w = next_wakeup(ts, freq)
    assert w > ts
    assert (w - ts) <= timedelta(minutes=freq)
    assert w.minute % freq == 0 and w.second == 0 and w.microsecond == 0


@given(
    h=st.integers(min_value=0, max_value=99),
    m=st.integers(min_value=0, max_value=99),
    s=st.integers(min_value=0, max_value=99),
)
@settings(max_examples=200)
def test_iso8601_duration_total(h, m, s):
    parts = (f"{h}H" if h else "") + (f"{m}M" if m else "") + (f"{s}S" if s else "")
    if not parts:
        return
    assert iso8601_duration_to_seconds(f"PT{parts}") == h * 3600 + m * 60 + s


@given(mins=st.integers(min_value=-14 * 60, max_value=14 * 60))
@settings(max_examples=200)
def test_tz_offset_roundtrip(mins):
    assert parse_tz_offset_minutes(tz_offset_string(mins)) == mins


# --- redaction is idempotent: replacement tokens never re-match -------------


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=120))
def test_redaction_idempotent_property(text):
    import re

    from amazon_lookout_for_equipment_python_sdk_spark.operators.corpus import (
        REDACTION_RULES,
    )

    def redact(s: str) -> str:
        for pat, repl in REDACTION_RULES:
            s = re.sub(pat, repl, s)
        return s

    once = redact(text)
    assert redact(once) == once


# --- r5 session: pure-function properties of the new operators --------------


@given(
    cents=st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=200),
    slack=st.integers(0, 50),
)
@settings(max_examples=200)
def test_reflected_walk_identity_equals_clamped_recursion(cents, slack):
    """The CUSUM closed form S_i = C_i - min(0, min_prefix C) used by
    operators/stats.py cusum_reflected must equal the textbook clamped
    fold for ANY integer deviation series."""
    med = sorted(cents)[(len(cents) + 1) // 2 - 1]
    devs = [c - med - slack for c in cents]
    # direct recursion
    s, direct = 0, []
    for d in devs:
        s = max(0, s + d)
        direct.append(s)
    # closed form
    cum, run_min, closed = 0, 0, []
    for d in devs:
        cum += d
        run_min = min(run_min, cum)
        closed.append(cum - min(0, run_min))
    assert closed == direct


@given(n=st.integers(1, 2000), m=st.integers(1, 64))
@settings(max_examples=300)
def test_gk_sample_indices_invariants(n, m):
    """The PACKAGE's sampling-index rule (sketches._gk_sample_indices):
    strictly increasing, bounded by n, last element always kept, at most
    m+1 points, and gaps bounded by ceil(n/m) — the invariants gk_merge's
    rank composition relies on."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.sketches import (
        _gk_sample_indices,
    )

    idx = _gk_sample_indices(n, m)
    assert idx and idx[-1] == n - 1
    assert all(0 <= i < n for i in idx)
    assert all(b > a for a, b in zip(idx, idx[1:]))
    assert len(idx) <= m + 1
    step = -(-n // m)
    gaps = [idx[0] + 1] + [b - a for a, b in zip(idx, idx[1:])]
    assert max(gaps) <= step


@given(s=st.text(max_size=200))
@settings(max_examples=200)
def test_normalize_text_reference_is_idempotent(s):
    """normalize(normalize(x)) == normalize(x) on the pure-python
    reference of the codegen pipeline (same translate table + regexes)."""
    import re

    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        _CTRL_RE,
        _NORM_FROM,
        _NORM_TO,
    )

    table = str.maketrans(_NORM_FROM, _NORM_TO)

    def norm(x: str) -> str:
        x = x.translate(table)
        x = re.sub(_CTRL_RE, "", x)
        x = re.sub(r"\s+", " ", x)
        return x.strip()

    once = norm(s)
    assert norm(once) == once


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=60), min_size=1, max_size=5
    ),
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=3
    ),
)
@settings(max_examples=10, deadline=None)
def test_decontaminate_spans_property(spark, train_texts, eval_texts):
    """For ANY corpora over a tiny alphabet (dense duplicate k-grams):
    after cutting the reported spans, no k-gram of any cleaned train doc
    occurs in the eval corpus — the defining guarantee of span
    decontamination.  (Cleaning joins fragments with ' ', which can
    create NEW k-grams spanning a cut; those are checked against the
    original doc, not eval — the documented seam of fragment joining.)"""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.dedup import (
        decontaminate_spans,
        remove_duplicate_spans,
    )

    K = 8
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(eval_texts)],
        "doc_id long, text string",
    )
    eval_grams = {
        t[i : i + K]
        for t in eval_texts
        for i in range(max(0, len(t) - K + 1))
    }
    spans = decontaminate_spans(train, ev, k=K)
    rows = {r["doc_id"]: r["text"] for r in
            remove_duplicate_spans(train, spans).collect()}
    for i, orig in enumerate(train_texts):
        cleaned = rows[i]
        # every surviving k-gram that ALREADY existed in the original doc
        # must be eval-clean (joins may fabricate novel k-grams — allowed)
        for j in range(max(0, len(cleaned) - K + 1)):
            g = cleaned[j : j + K]
            if g in orig:
                assert g not in eval_grams, (orig, cleaned, g)


# --- r8 corpus-adaptive geometry derivations ---------------------------------
# The adaptive formulas are the scale levers that turned two measured
# super-linear paths flat (embedding_near_dup r7, lsh_cosine_topk r8).
# Pin their pure-math contract: monotone nondecreasing in n, floors/caps
# respected, and expected bucket occupancy n / 2^planes bounded by
# 2 * target once above the floor (ceil overshoots by < 1 bit).


def _adaptive_planes(n: int, floor: int, target: int) -> int:
    import math

    return max(floor, math.ceil(math.log2(max(n, 1) / target)))


@given(n=st.integers(min_value=0, max_value=10**12))
@settings(max_examples=500)
def test_adaptive_plane_count_contract(n):
    p_topk = _adaptive_planes(n, 3, 64)   # similarity.lsh_cosine_topk
    p_pair = _adaptive_planes(n, 4, 64)   # similarity.embedding_near_dup
    for p, floor in ((p_topk, 3), (p_pair, 4)):
        assert p >= floor
        assert p >= _adaptive_planes(max(n - 1, 0), floor, 64)  # monotone
        if p > floor:  # above the floor, occupancy is bounded
            assert n / (2 ** p) <= 64
            assert n / (2 ** p) > 32  # and not over-split (>= target/2)


@given(n=st.integers(min_value=0, max_value=10**12))
@settings(max_examples=500)
def test_adaptive_cell_count_contract(n):
    import math

    nc = max(16, min(4096, math.isqrt(max(n, 0))))  # semantic_dedup
    assert 16 <= nc <= 4096
    assert nc >= max(16, min(4096, math.isqrt(max(n - 1, 0))))
    if 16 < nc < 4096:  # interior regime: per-cell work ~ sqrt(n)
        assert abs(nc - math.isqrt(n)) == 0


@given(html=st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_extract_links_never_raises(html):
    """The link harvester runs on raw crawled bytes-turned-text — any
    input must degrade to a (possibly empty) link list, never an
    exception (one hostile page must not sink an Arrow batch)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.linkgraph import (
        extract_links,
    )

    for href, text, nofollow in extract_links(html):
        assert isinstance(href, str) and href != ""
        assert not href.startswith("#")
        assert isinstance(text, str) and isinstance(nofollow, bool)


@given(
    html=st.text(
        alphabet=st.sampled_from(list("<a href=/x>y</'\"&#;\n ")),
        max_size=200,
    ),
    base=st.one_of(
        st.none(),
        st.text(
            alphabet=st.sampled_from(list("htps:/a.b%?# ")), max_size=40
        ),
    ),
)
@settings(max_examples=300, deadline=None)
def test_extract_links_tag_soup_with_base_never_raises(html, base):
    """Tag-soup alphabet + adversarial base URLs (urljoin's ValueError
    surface) — the resolution fallback must keep the href verbatim
    rather than raise."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.linkgraph import (
        extract_links,
    )

    extract_links(html, base_url=base)


@given(body=st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_parse_sitemap_refs_never_raises(body):
    """robots.txt bodies are hostile input; the Sitemap: scan must
    yield a deduplicated list of non-empty strings for anything."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.robots import (
        _parse_sitemap_refs,
    )

    out = _parse_sitemap_refs(body)
    assert len(out) == len(set(out))
    assert all(isinstance(u, str) and u for u in out)

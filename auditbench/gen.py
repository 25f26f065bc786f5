"""Seeded input generator for the audit benchmark.

Everything here is plain Python plus pyarrow: the engine under test only
ever sees the parquet files this module writes. Alongside the files the
generator keeps its own record — every event's full before/after row,
each key's final row, planted duplicate sets — and derives from that
record the rows the engine must return. The expected view rows follow
the reference's documented view semantics (see
``audit_star_spark.operators.reconstruct``), recomputed here from the
generator's own record rather than from the engine's log.

The same ``(workload, seed)`` always produces the same inputs:
randomness comes from ``random.Random`` seeded with a string, which is
stable across processes and Python hash seeds.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# (column, PostgreSQL type) of the audited table; ``id`` is the primary key
COLUMNS: list[tuple[str, str]] = [
    ("id", "bigint"),
    ("name", "text"),
    ("email", "text"),
    ("age", "integer"),
    ("balance", "numeric(12,2)"),
    ("score", "double precision"),
    ("active", "boolean"),
    ("signup_date", "date"),
    ("last_login", "timestamp"),
    ("country", "text"),
    ("tier", "smallint"),
    ("notes", "text"),
]
PK = "id"
MUTABLE = [c for c, _ in COLUMNS if c != PK]
TRUNCATE_LEN = 500  # the capture path truncates stored old values here
BASE_TIME = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
# the file layout of streaming.ingest.FEED_SCHEMA
_FEED_ARROW = pa.schema(
    [
        ("event_id", pa.int64()),
        ("op", pa.string()),
        ("before", pa.map_(pa.string(), pa.string())),
        ("after", pa.map_(pa.string(), pa.string())),
        ("changed_at", pa.timestamp("us", tz="UTC")),
        ("changed_by", pa.string()),
        ("db_user", pa.string()),
        ("client_addr", pa.string()),
        ("client_port", pa.int32()),
    ]
)

_COUNTRIES = ["us", "de", "fr", "br", "in", "jp", "ng", "mx", "se", "kr"]
_SYLL = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da", "po", "re", "an"]
_WORDS = [a + b + c for a in _SYLL for b in _SYLL for c in ("", "n", "s")][:300]


def event_time(event_id: int) -> dt.datetime:
    """Feed events are one second apart, so ``changed_at`` identifies an
    event uniquely and orders events like ``event_id``."""
    return BASE_TIME + dt.timedelta(seconds=event_id)


def _value(rng: random.Random, col: str, long_frac: float) -> str:
    """One canonical text value: casting it to the column's type and back
    to string gives the same text (doubles are compared numerically)."""
    if col == "name":
        return "".join(rng.choice(_SYLL) for _ in range(3)).title()
    if col == "email":
        return f"u{rng.randrange(10**7)}@mail{rng.randrange(50)}.example"
    if col == "age":
        return str(rng.randint(18, 90))
    if col == "balance":
        return f"{rng.randrange(10**8) / 100:.2f}"
    if col == "score":
        return str(rng.randrange(100_000) / 100)
    if col == "active":
        return rng.choice(("true", "false"))
    if col == "signup_date":
        return (dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(3000))).isoformat()
    if col == "last_login":
        t = dt.datetime(2023, 1, 1) + dt.timedelta(seconds=rng.randrange(3 * 10**7))
        return t.strftime("%Y-%m-%d %H:%M:%S")
    if col == "country":
        return rng.choice(_COUNTRIES)
    if col == "tier":
        return str(rng.randint(0, 5))
    if col == "notes":
        n = rng.randint(520, 700) if rng.random() < long_frac else rng.randint(10, 60)
        return " ".join(rng.choice(_WORDS) for _ in range(n // 4 + 1))[:n]
    raise KeyError(col)


@dataclass
class Event:
    event_id: int
    op: str  # 'I', 'U' or 'D'
    key: str
    before: dict[str, str] | None  # full row image before the change
    after: dict[str, str] | None  # full row image after the change
    changed: tuple[str, ...] = ()  # columns an update changed


@dataclass
class ChangeFeed:
    """A generated change feed plus the generator's record of it."""

    events: list[Event]  # event_id order; events[i].event_id == i + 1
    history: dict[str, list[int]] = field(default_factory=dict)  # key -> event indexes
    hot_keys: list[str] = field(default_factory=list)
    cold_keys: list[str] = field(default_factory=list)

    def final_state(self) -> dict[str, dict[str, str]]:
        """Each live key's row after the whole feed."""
        state: dict[str, dict[str, str]] = {}
        for ev in self.events:
            if ev.op == "D":
                state.pop(ev.key, None)
            else:
                state[ev.key] = ev.after
        return state

    def expected_rows(self, key: str, view: str) -> dict[str, dict[str, str | None]]:
        """The rows the ``view`` ('delta', 'snapshot' or 'compare') must
        hold for ``key``, keyed by the event's ``changed_at`` text. Values
        are untyped text; a missing column reads as None.

        Per column c and event i the views combine: the event's stored
        old values (``before_change``, truncated) and new values
        (``change``); the old value stored by the next later event of the
        key that stored one for c; and the key's live row."""
        idx = self.history[key]
        evs = [self.events[i] for i in idx]
        last = evs[-1]
        live = None if last.op == "D" else last.after
        cols = [c for c, _ in COLUMNS]
        nxt: dict[str, str] = {}  # c -> old value stored by the next later event
        out: dict[str, dict[str, str | None]] = {}
        for ev in reversed(evs):
            bc, ch = _stored_maps(ev)
            row: dict[str, str | None] = {}
            for c in cols:
                nb, lv = nxt.get(c), (live or {}).get(c)
                if view == "delta":
                    row[f"old_{c}"] = (bc or {}).get(c)
                    row[f"new_{c}"] = (
                        _coalesce(nb, lv) if ev.op == "I" else (ch or {}).get(c)
                    )
                elif view == "snapshot":
                    row[c] = _coalesce((ch or {}).get(c), nb, lv)
                else:
                    row[f"old_{c}"] = _coalesce(
                        (bc or {}).get(c), None if ev.op == "I" else _coalesce(nb, lv)
                    )
                    row[f"new_{c}"] = _coalesce(
                        (ch or {}).get(c), None if ev.op == "D" else nb, lv
                    )
            out[ts_text(ev.event_id)] = row
            if bc:
                nxt.update(bc)
        return out

    def write(self, path: str, start: int, stop: int, mtime: float | None = None) -> None:
        """Write events[start:stop] as one FEED_SCHEMA parquet file. The
        file-stream source orders pending files by modification time, so
        callers pass increasing ``mtime`` to fix the batch order."""
        events = self.events[start:stop]

        def as_map(row):
            return None if row is None else list(row.items())

        cols = {
            "event_id": [e.event_id for e in events],
            "op": [e.op for e in events],
            "before": [as_map(e.before) for e in events],
            "after": [as_map(e.after) for e in events],
            "changed_at": [event_time(e.event_id) for e in events],
            "changed_by": [f"agent{e.event_id % 7}" for e in events],
            "db_user": [f"app{e.event_id % 3}" for e in events],
            "client_addr": [f"10.0.{e.event_id % 250}.{e.event_id % 199}" for e in events],
            "client_port": [40000 + e.event_id % 20000 for e in events],
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
        pq.write_table(pa.table(cols, schema=_FEED_ARROW), tmp)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.replace(tmp, path)  # the stream never lists a half-written file


def _coalesce(*vals):
    return next((v for v in vals if v is not None), None)


def ts_text(event_id: int) -> str:
    """``changed_at`` of an event as the views print it (UTC session)."""
    return event_time(event_id).strftime("%Y-%m-%d %H:%M:%S")


def _stored_maps(ev: Event) -> tuple[dict | None, dict | None]:
    """(before_change, change) as the capture path stores them."""
    if ev.op == "U":
        bc = {c: ev.before[c][:TRUNCATE_LEN] for c in ev.changed}
        return bc, {c: ev.after[c] for c in ev.changed}
    if ev.op == "D":
        return {c: v[:TRUNCATE_LEN] for c, v in ev.before.items()}, None
    return None, None


def make_feed(
    seed: str,
    cold_keys: int,
    cold_mean_events: float,
    hot_keys: int = 0,
    hot_events: int = 0,
    delete_frac: float = 0.05,
    long_frac: float = 0.03,
) -> ChangeFeed:
    """A feed over ``cold_keys`` keys with short histories (1 + geometric
    extra updates, mean ``cold_mean_events`` events per key) plus
    ``hot_keys`` keys with ``hot_events`` events each. Each key starts
    with an insert, most updates change one or two columns, and a
    ``delete_frac`` share of keys ends with a delete. Events of different
    keys are interleaved at random; each key's own order is kept."""
    rng = random.Random(seed)
    lengths: dict[str, int] = {}
    for k in range(1, hot_keys + cold_keys + 1):
        if k <= hot_keys:
            lengths[str(k)] = hot_events
        else:
            n = 1
            while rng.random() > 1.0 / cold_mean_events:
                n += 1
            lengths[str(k)] = n
    order = [k for k, n in lengths.items() for _ in range(n)]
    rng.shuffle(order)
    ends_deleted = {
        k for k, n in lengths.items() if n >= 2 and rng.random() < delete_frac
    }
    seen: dict[str, int] = {}
    rows: dict[str, dict[str, str]] = {}
    feed = ChangeFeed(events=[])
    feed.hot_keys = [str(k) for k in range(1, hot_keys + 1)]
    feed.cold_keys = [k for k in lengths if k not in set(feed.hot_keys)]
    for i, key in enumerate(order):
        pos = seen.get(key, 0)
        seen[key] = pos + 1
        eid = i + 1
        if pos == 0:
            row = {PK: key, **{c: _value(rng, c, long_frac) for c in MUTABLE}}
            ev = Event(eid, "I", key, None, row)
        elif pos == lengths[key] - 1 and key in ends_deleted:
            ev = Event(eid, "D", key, rows[key], None)
        else:
            r = rng.random()
            n_changed = 1 if r < 0.8 else (2 if r < 0.95 else 3)
            changed = tuple(sorted(rng.sample(MUTABLE, n_changed)))
            after = dict(rows[key])
            for c in changed:
                v = _value(rng, c, long_frac)
                while v == after[c]:
                    v = _value(rng, c, long_frac)
                after[c] = v
            ev = Event(eid, "U", key, rows[key], after, changed)
        if ev.after is not None:
            rows[key] = ev.after
        feed.events.append(ev)
        feed.history.setdefault(key, []).append(i)
    return feed


# -- corpus ---------------------------------------------------------------

_STOP = ["the", "a", "and", "of", "to", "in", "is", "on", "for"]


@dataclass
class Corpus:
    """Documents plus the planted structure the cleaning stages must find."""

    docs: list[tuple[int, str, str]]  # (doc_id, text, source)
    low_quality: set[int]
    exact_dups: dict[int, list[int]]  # original doc_id -> exact copies
    near_dups: dict[int, list[int]]  # original doc_id -> near copies

    @property
    def expected_after_quality(self) -> int:
        return len(self.docs) - len(self.low_quality)

    @property
    def expected_after_exact(self) -> int:
        return self.expected_after_quality - sum(len(v) for v in self.exact_dups.values())

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        ids, texts, sources = zip(*self.docs)
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "source": pa.array(sources, pa.string()),
            }
        )
        pq.write_table(table, path)


def _good_text(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(60, 140))]
    for i in range(0, len(words), 7):
        words[i] = rng.choice(_STOP)
    return " ".join(words)


def make_corpus(
    seed: str,
    n_docs: int,
    exact_frac: float = 0.1,
    near_frac: float = 0.1,
    low_frac: float = 0.1,
    hot_cluster: int = 0,
) -> Corpus:
    """``n_docs`` documents: distinct well-formed originals, exact copies
    of originals (case and runs of spaces changed, which normalization
    undoes), near copies (two or three words substituted: shingle Jaccard
    stays above 0.7), and low-quality documents that the rule gate drops
    (too short, repetitive, or without stopwords). ``hot_cluster`` more
    near copies all go to the first original: one near-duplicate cluster
    that large makes LSH band buckets quadratic in candidate pairs."""
    rng = random.Random(seed)
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_low = int(n_docs * low_frac)
    n_orig = n_docs - n_exact - n_near - n_low - hot_cluster
    corpus = Corpus(docs=[], low_quality=set(), exact_dups={}, near_dups={})
    texts: list[tuple[str, str]] = []  # (text, kind)
    originals = [_good_text(rng) for _ in range(n_orig)]
    texts += [(t, "orig") for t in originals]
    plan: list[tuple[str, int]] = []
    for _ in range(n_exact):
        plan.append(("exact", rng.randrange(n_orig)))
    for _ in range(n_near):
        plan.append(("near", rng.randrange(n_orig)))
    for _ in range(hot_cluster):
        plan.append(("near", 0))
    for _ in range(n_low):
        plan.append(("low", 0))
    rng.shuffle(plan)
    ids = list(range(n_docs))
    # originals take the lowest ids so every copy's canonical is its original
    for i, t in enumerate(originals):
        corpus.docs.append((ids[i], t, f"src{i % 3}"))
    for j, (kind, o) in enumerate(plan):
        doc_id = ids[n_orig + j]
        if kind == "exact":
            w = originals[o].split(" ")
            text = "  ".join(x.upper() if k % 5 == 0 else x for k, x in enumerate(w)) + "  "
            corpus.exact_dups.setdefault(ids[o], []).append(doc_id)
        elif kind == "near":
            w = originals[o].split(" ")
            for p in rng.sample(range(len(w)), rng.randint(2, 3)):
                w[p] = rng.choice(_WORDS) + "x"
            text = " ".join(w)
            corpus.near_dups.setdefault(ids[o], []).append(doc_id)
        else:
            style = rng.randrange(3)
            if style == 0:  # too short
                text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(5, 15))) + " the"
            elif style == 1:  # one bigram repeated
                a, b = rng.choice(_WORDS), rng.choice(_WORDS)
                text = " ".join([a, b] * rng.randint(20, 40)) + " the end"
            else:  # no stopwords
                text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 80)))
            corpus.low_quality.add(doc_id)
        corpus.docs.append((doc_id, text, f"src{j % 3}"))
    return corpus

"""Seeded change-feed generator with ground truth.

Writes a change feed in the engine's ``FEED_SCHEMA`` layout (op, full
before/after images as string maps, metadata) as parquet files, one file
per intended micro-batch, and keeps everything needed to check the
engine's outputs: every key's version history, the final table state and
the expected snapshot-view row after each event.

Only pyarrow and the standard library are used, so the inputs do not
depend on the engine under test.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from bisect import bisect_right
from dataclasses import dataclass, field
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

PK = "id"
# (column, PostgreSQL type) — 12 columns of mixed types; the engine maps
# the types through catalog.pg_type_to_spark
COLUMNS = [
    ("id", "bigint"),
    ("name", "text"),
    ("email", "text"),
    ("age", "int"),
    ("score", "double precision"),
    ("balance", "numeric(12,2)"),
    ("active", "boolean"),
    ("signup_date", "date"),
    ("last_login", "timestamp"),
    ("tier", "text"),
    ("notes", "text"),
    ("visits", "bigint"),
]
MUTABLE = [c for c, _ in COLUMNS if c != PK]
TRUNCATE_LEN = 500  # EngineConfig.value_truncate_len default
EPOCH = dt.datetime(2024, 1, 1)
TIERS = ["free", "basic", "pro", "team", "enterprise"]
WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
]

FEED_ARROW_SCHEMA = pa.schema(
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


@dataclass(frozen=True)
class FeedParams:
    n_events: int
    n_keys: int
    n_files: int
    zipf_s: float = 1.1
    delete_share: float = 0.05
    long_text_share: float = 0.05


@dataclass
class Event:
    event_id: int
    op: str  # I / U / D
    key: int
    before: dict | None
    after: dict | None
    changed: tuple = ()  # columns a U changed

    @property
    def changed_at(self) -> dt.datetime:
        return EPOCH + dt.timedelta(seconds=self.event_id)


@dataclass
class Feed:
    params: FeedParams
    events: list[Event]
    # key -> indices into ``events`` (ascending event order)
    history: dict[int, list[int]] = field(default_factory=dict)
    # file boundaries: events[bounds[i]:bounds[i+1]] land in file i
    bounds: list[int] = field(default_factory=list)
    # keys by popularity rank (rank r is drawn with weight 1/r^zipf_s)
    key_order: list[int] = field(default_factory=list)
    _snapshots: dict[int, dict] = field(default_factory=dict, repr=False)

    @property
    def final_state(self) -> dict[int, dict]:
        """key -> after-image of its last event, for keys alive at the end."""
        out = {}
        for key, idx in self.history.items():
            last = self.events[idx[-1]]
            if last.op != "D":
                out[key] = last.after
        return out

    def draw_keys(self, rng: random.Random, k: int) -> list[int]:
        """``k`` keys drawn from the Zipf law the events were drawn from,
        one per equal-probability stratum of it (so every run sees the
        same mix of hot and cold keys), in random order."""
        w = zipf_weights(self.params.n_keys, self.params.zipf_s)
        total, cdf, acc = sum(w), [], 0.0
        for x in w:
            acc += x
            cdf.append(acc / total)
        ranks = [
            min(bisect_right(cdf, (i + rng.random()) / k), len(cdf) - 1)
            for i in range(k)
        ]
        rng.shuffle(ranks)
        return [self.key_order[r] for r in ranks]

    def expected_snapshot(self, i: int) -> dict:
        """The snapshot view's row for event ``i`` (an I or U), as strings."""
        key = self.events[i].key
        if key not in self._snapshots:
            self._snapshots[key] = self._key_snapshots(key)
        return self._snapshots[key][i]

    def _key_snapshots(self, key: int) -> dict[int, dict]:
        """Snapshot rows of every I/U event of one key, by one reverse scan.

        The view fills each column from the event's own change map, else
        from the next later event of the key whose before_change names the
        column (values there are truncated to TRUNCATE_LEN), else from the
        live row. Only long text values are affected by the truncation.
        """
        out = {}
        named_later: set[str] = set()
        for j in reversed(self.history[key]):
            ev = self.events[j]
            if ev.op != "D":
                out[j] = {
                    c: v if (c in ev.changed or c not in named_later) else v[:TRUNCATE_LEN]
                    for c, v in ev.after.items()
                }
            if ev.op == "D":
                named_later.update(c for c, _ in COLUMNS)
            else:
                named_later.update(ev.changed)
        return out

    def state_at(self, event_id: int) -> dict[int, dict]:
        """Expected as-of state: key -> snapshot row of the key's last event
        with ``event_id`` at or before the given one, keys deleted by then
        omitted."""
        out = {}
        for key, idx in self.history.items():
            pos = bisect_right(idx, event_id - 1) - 1
            if pos < 0:
                continue
            ev = self.events[idx[pos]]
            if ev.op != "D":
                out[key] = self.expected_snapshot(idx[pos])
        return out


def zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _value(rng: random.Random, c: str, key: int, long_share: float) -> str:
    if c == "id":
        return str(key)
    if c == "name":
        return f"{rng.choice(WORDS)} {rng.choice(WORDS)}-{rng.randrange(10**6)}"
    if c == "email":
        return f"user{key}.{rng.randrange(10**6)}@example.org"
    if c == "age":
        return str(rng.randrange(18, 99))
    if c == "score":
        return repr(round(rng.uniform(0, 1000), 3))
    if c == "balance":
        return str(Decimal(rng.randrange(-10**8, 10**8)) / 100)
    if c == "active":
        return rng.choice(("true", "false"))
    if c == "signup_date":
        return (EPOCH.date() - dt.timedelta(days=rng.randrange(3000))).isoformat()
    if c == "last_login":
        t = EPOCH + dt.timedelta(seconds=rng.randrange(10**8))
        return t.strftime("%Y-%m-%d %H:%M:%S")
    if c == "tier":
        return rng.choice(TIERS)
    if c == "notes":
        if rng.random() < long_share:
            n = rng.randrange(TRUNCATE_LEN + 20, TRUNCATE_LEN + 400)
        else:
            n = rng.randrange(10, 120)
        base = " ".join(rng.choice(WORDS) for _ in range(n // 4 + 1))
        return base[:n]
    if c == "visits":
        return str(rng.randrange(10**9))
    raise KeyError(c)


def generate(params: FeedParams, seed: int) -> Feed:
    """Build the event list: Zipf-skewed keys; a key that is not alive is
    (re-)inserted, a live key is deleted with ``delete_share`` probability
    and otherwise updated in 1-3 columns, each to a different value."""
    rng = random.Random(seed)
    keys = list(range(1, params.n_keys + 1))
    rng.shuffle(keys)  # hot keys are not simply the smallest ids
    weights = zipf_weights(params.n_keys, params.zipf_s)
    picks = rng.choices(keys, weights=weights, k=params.n_events)
    alive: dict[int, dict] = {}
    events: list[Event] = []
    history: dict[int, list[int]] = {}
    ls = params.long_text_share
    for i, key in enumerate(picks):
        eid = i + 1
        cur = alive.get(key)
        if cur is None:
            row = {c: _value(rng, c, key, ls) for c, _ in COLUMNS}
            ev = Event(eid, "I", key, None, row)
            alive[key] = row
        elif rng.random() < params.delete_share:
            ev = Event(eid, "D", key, cur, None)
            del alive[key]
        else:
            row = dict(cur)
            changed = tuple(sorted(rng.sample(MUTABLE, rng.randint(1, 3))))
            for c in changed:
                v = row[c]
                while v == row[c]:
                    v = _value(rng, c, key, ls)
                row[c] = v
            ev = Event(eid, "U", key, cur, row, changed)
            alive[key] = row
        history.setdefault(key, []).append(len(events))
        events.append(ev)
    n_files = max(1, min(params.n_files, params.n_events))
    bounds = [round(k * params.n_events / n_files) for k in range(n_files + 1)]
    return Feed(params, events, history, bounds, keys)


def _table(events: list[Event]) -> pa.Table:
    def as_map(d):
        return None if d is None else list(d.items())

    return pa.table(
        {
            "event_id": [e.event_id for e in events],
            "op": [e.op for e in events],
            "before": [as_map(e.before) for e in events],
            "after": [as_map(e.after) for e in events],
            "changed_at": [e.changed_at.replace(tzinfo=dt.timezone.utc) for e in events],
            "changed_by": [f"app-{e.event_id % 7}" for e in events],
            "db_user": ["app" for _ in events],
            "client_addr": [f"10.0.{e.key % 256}.{e.event_id % 256}" for e in events],
            "client_port": [5432 for _ in events],
        },
        schema=FEED_ARROW_SCHEMA,
    )


def write_feed(feed: Feed, out_dir: str) -> list[str]:
    """One parquet file per batch. Modification times are set one second
    apart so a file-source stream lists them in event order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    t0 = 1_700_000_000
    for k in range(len(feed.bounds) - 1):
        chunk = feed.events[feed.bounds[k] : feed.bounds[k + 1]]
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(_table(chunk), path)
        os.utime(path, (t0 + k, t0 + k))
        paths.append(path)
    return paths

"""Seeded changeset inputs and an independent pure-Python model of the store.

Everything the engine receives is written here as files: a changeset dump
(plain XML split into parts, and one ``.osm.bz2`` like the planet dump) and a
backlog of gzip minutely diffs.  ``StoreModel`` replays the same changesets
with last-write-wins semantics in plain Python, so every answer the engine
gives can be checked against a computation that shares no code with it.

The traffic is synthetic.  None of its parameters is fitted to OpenStreetMap
data: each is an assumption, chosen so that every field and branch the
engine handles occurs (anonymous users, missing and out-of-range bboxes,
open changesets, discussions, XML escapes) and so that each store query
selects a non-trivial share of rows.  What the engine's costs follow is
measured on the output rather than assumed: about 400 bytes of plain XML and
40 bytes of bz2 per changeset, about 2.2 tags and 0.2 comments per
changeset, and diffs of 60 changesets of which half re-emit recent ids
(about a fifth of a diff's rows close an open changeset).  The parameters,
and what each one drives:

- ``EDITORS`` weights: the selectivity of the ``created_by LIKE`` query;
- tag rates in ``_tags``: the size of the tags map each row carries;
- bbox size ``10 ** U(-4.5, 1)`` degrees: the selectivity of the envelope
  and small-area queries, which straddles their thresholds;
- ``num_changes`` ~ lognormal(2.5, 1.3), capped at 10,000: a skewed sum for
  the per-user query;
- Zipf(0.9) user activity: a skewed top-10 and per-user selection;
- 3% anonymous, 3% without bbox, 0.4% out-of-range latitudes, 8% with a
  discussion, open rates 0.6 (dump tail) and 0.5 (new in a diff): enough
  rows on each rare branch at 6,000-8,000 changesets.
"""

from __future__ import annotations

import bz2
import gzip
import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import Decimal
from xml.sax.saxutils import escape, quoteattr

BASE = datetime(2024, 1, 1)
DUMP_DAYS = 60
DIFF_START = BASE + timedelta(days=DUMP_DAYS)
FIRST_ID = 100_000_001
# EPSG:3410 authalic-sphere radius: the constant the reference's
# ST_Area(ST_Transform(geom, 3410)) query implies.
EASE_R = 6371228.0
AREA_LIMIT_M2 = 225_000_000.0

EDITORS = [
    ("JOSM/1.5 (19039 en)", 30),
    ("JOSM/1.5 (18822 de)", 10),
    ("iD 2.27.3", 35),
    ("iD 2.26.2", 10),
    ("Potlatch 2", 3),
    ("StreetComplete 57.4", 8),
    ("Vespucci 19.1", 3),
    ("Every Door 5.0", 1),
]
SOURCES = ["survey", "Bing Maps Aerial", "Esri World Imagery", "local knowledge", "GPS"]
IMAGERY = ["Bing Maps Aerial", "Esri World Imagery", "Mapbox Satellite", "OpenStreetMap Carto"]
LOCALES = ["en-US", "de", "fr", "es", "ja", "pt-BR"]
WORDS = (
    "add fix update building road path shop name address footway crossing "
    "landuse river bridge tree bench school cafe parking lane survey import "
    "cleanup tag typo route bus stop park"
).split()
ODD = ["&", "<b>", '"quoted"', "café", "Straße", "東京", "O'Neil", "→"]


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _phrase(rng: random.Random) -> str:
    words = [rng.choice(WORDS) for _ in range(rng.randint(2, 7))]
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words)), rng.choice(ODD))
    return " ".join(words)


@dataclass
class Changeset:
    id: int
    uid: int | None
    user: str | None
    created_at: datetime
    closed_at: datetime | None
    num_changes: int
    bbox: tuple[str, str, str, str] | None  # min_lat, max_lat, min_lon, max_lon
    tags: dict[str, str]
    comments: list[tuple[int, str, datetime, str]] = field(default_factory=list)

    @property
    def open(self) -> bool:
        return self.closed_at is None

    def xml(self) -> str:
        a = [f'id="{self.id}"', f'created_at="{_ts(self.created_at)}"']
        if self.closed_at is not None:
            a.append(f'closed_at="{_ts(self.closed_at)}"')
        a.append(f'open="{"true" if self.open else "false"}"')
        if self.uid is not None:
            a.append(f"user={quoteattr(self.user)} uid=\"{self.uid}\"")
        if self.bbox is not None:
            min_lat, max_lat, min_lon, max_lon = self.bbox
            a.append(
                f'min_lat="{min_lat}" min_lon="{min_lon}" '
                f'max_lat="{max_lat}" max_lon="{max_lon}"'
            )
        a.append(f'comments_count="{len(self.comments)}" num_changes="{self.num_changes}"')
        head = "  <changeset " + " ".join(a)
        if not self.tags and not self.comments:
            return head + "/>\n"
        body = [head + ">\n"]
        for k, v in self.tags.items():
            body.append(f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>\n")
        if self.comments:
            body.append("    <discussion>\n")
            for uid, user, date, text in self.comments:
                body.append(
                    f'      <comment uid="{uid}" user={quoteattr(user)} '
                    f'date="{_ts(date)}">\n'
                    f"        <text>{escape(text)}</text>\n      </comment>\n"
                )
            body.append("    </discussion>\n")
        body.append("  </changeset>\n")
        return "".join(body)


def _xml_doc(changesets) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osm version="0.6" generator="perfbench" copyright="synthetic">\n'
        + "".join(c.xml() for c in changesets)
        + "</osm>\n"
    )


class Generator:
    """Deterministic source of changesets and diffs for one seed."""

    def __init__(self, seed: int, n_changesets: int) -> None:
        self.rng = random.Random(seed)
        self.n = n_changesets
        n_users = max(50, n_changesets // 40)
        self.users = [
            (1000 + i, f"mapper_{i}" if i % 23 else f"mapper_{i} {self.rng.choice(ODD)}")
            for i in range(n_users)
        ]
        # Zipf(0.9) activity: a few users make most changesets.
        self.user_weights = [1.0 / (i + 1) ** 0.9 for i in range(n_users)]
        self.next_id = FIRST_ID

    def _user(self) -> tuple[int, str]:
        return self.rng.choices(self.users, weights=self.user_weights)[0]

    def _bbox(self) -> tuple[str, str, str, str] | None:
        rng = self.rng
        if rng.random() < 0.03:
            return None
        if rng.random() < 0.004:  # out-of-range latitudes occur in real dumps
            return ("-95.0000000", "91.0000000", "-180.0000000", "180.0000000")
        lat = rng.uniform(-60.0, 70.0)
        lon = rng.uniform(-179.0, 179.0)
        h = 10 ** rng.uniform(-4.5, 1.0)
        w = h * rng.uniform(0.5, 2.0)
        min_lat, max_lat = lat, min(lat + h, 89.9)
        min_lon, max_lon = lon, min(lon + w, 180.0)
        return tuple(f"{v:.7f}" for v in (min_lat, max_lat, min_lon, max_lon))

    def _tags(self) -> dict[str, str]:
        rng = self.rng
        tags: dict[str, str] = {}
        if rng.random() < 0.85:
            tags["created_by"] = rng.choices(
                [e for e, _ in EDITORS], weights=[w for _, w in EDITORS]
            )[0]
        if rng.random() < 0.45:
            tags["comment"] = _phrase(rng)
        if rng.random() < 0.3:
            tags["source"] = rng.choice(SOURCES)
        if rng.random() < 0.25:
            tags["imagery_used"] = rng.choice(IMAGERY)
        if rng.random() < 0.2:
            tags["locale"] = rng.choice(LOCALES)
        if rng.random() < 0.15:
            tags["host"] = "https://www.openstreetmap.org/edit"
        if rng.random() < 0.01:
            tags["bot"] = "yes"
        return tags

    def _comments(self, after: datetime, k: int) -> list[tuple[int, str, datetime, str]]:
        out = []
        t = after
        for _ in range(k):
            t = t + timedelta(seconds=self.rng.randint(60, 86400))
            uid, user = self._user()
            out.append((uid, user, t, _phrase(self.rng)))
        return out

    def new_changeset(self, created_at: datetime, open_p: float) -> Changeset:
        rng = self.rng
        cid = self.next_id
        self.next_id += 1
        if rng.random() < 0.03:
            uid, user = None, None  # historic anonymous edits
        else:
            uid, user = self._user()
        closed = None
        if rng.random() >= open_p:
            closed = created_at + timedelta(seconds=rng.randint(5, 3 * 3600))
        comments = []
        if rng.random() < 0.08:
            comments = self._comments(created_at, rng.randint(1, 4))
        return Changeset(
            id=cid,
            uid=uid,
            user=user,
            created_at=created_at,
            closed_at=closed,
            num_changes=min(10000, max(1, int(rng.lognormvariate(2.5, 1.3)))),
            bbox=self._bbox(),
            tags=self._tags(),
            comments=comments,
        )

    def dump(self) -> list[Changeset]:
        span = DUMP_DAYS * 86400
        times = sorted(self.rng.randrange(span) for _ in range(self.n))
        out = []
        for s in times:
            t = BASE + timedelta(seconds=s)
            # changesets from the dump's last six hours may still be open
            open_p = 0.6 if s > span - 6 * 3600 else 0.0
            out.append(self.new_changeset(t, open_p))
        return out

    def diffs(self, dump: list[Changeset], count: int, per_diff: int) -> list[list[Changeset]]:
        """Minutely diffs: about half re-emit recent changesets in a later
        state (open ones close, counts grow, comments arrive), half are new."""
        rng = self.rng
        # Changesets close within a day of opening, so diffs re-emit only
        # those opened in the last 24 hours.
        recent_from = DIFF_START - timedelta(hours=24)
        latest = {c.id: c for c in dump if c.created_at >= recent_from}
        out = []
        for i in range(count):
            now = DIFF_START + timedelta(minutes=i)
            for cid in [c for c, v in latest.items() if v.created_at < now - timedelta(hours=24)]:
                del latest[cid]
            n_upd = min(len(latest), per_diff // 2)
            opens = [c for c in latest.values() if c.open]
            pool = rng.sample(sorted(latest), n_upd)
            if opens:  # bias towards open→closed transitions
                pool = list(dict.fromkeys(
                    [c.id for c in rng.sample(opens, min(len(opens), n_upd // 2))] + pool
                ))[:n_upd]
            diff = []
            for cid in sorted(pool):
                old = latest[cid]
                new = Changeset(
                    id=old.id,
                    uid=old.uid,
                    user=old.user,
                    created_at=old.created_at,
                    closed_at=old.closed_at,
                    num_changes=min(10000, old.num_changes + rng.randint(1, 40)),
                    bbox=self._bbox() if old.bbox is None else old.bbox,
                    tags=dict(old.tags),
                    comments=list(old.comments),
                )
                if new.open and rng.random() < 0.7:
                    new.closed_at = max(now, new.created_at + timedelta(seconds=1))
                if rng.random() < 0.1:
                    new.comments += self._comments(now, 1)
                if "comment" not in new.tags and rng.random() < 0.2:
                    new.tags["comment"] = _phrase(rng)
                diff.append(new)
            for _ in range(per_diff - len(diff)):
                t = now - timedelta(seconds=rng.randint(0, 59))
                diff.append(self.new_changeset(t, open_p=0.5))
            for c in diff:
                latest[c.id] = c
            out.append(diff)
        return out


def write_dump(changesets: list[Changeset], out_dir: str, parts: int) -> tuple[str, str]:
    """Write the dump as ``parts`` plain XML files and one ``.osm.bz2``;
    return (plain directory, bz2 path)."""
    plain = os.path.join(out_dir, "dump_xml")
    os.makedirs(plain, exist_ok=True)
    step = math.ceil(len(changesets) / parts)
    for p in range(parts):
        with open(os.path.join(plain, f"part-{p:03d}.osm"), "w", encoding="utf-8") as f:
            f.write(_xml_doc(changesets[p * step : (p + 1) * step]))
    bz = os.path.join(out_dir, "dump.osm.bz2")
    with open(bz, "wb") as f:
        f.write(bz2.compress(_xml_doc(changesets).encode("utf-8"), 9))
    return plain, bz


def write_diffs(diffs: list[list[Changeset]], out_dir: str, first_seq: int) -> dict[int, str]:
    """One gzip minutely diff per sequence number; returns sequence → path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for i, diff in enumerate(diffs):
        seq = first_seq + i
        path = os.path.join(out_dir, f"{seq:09d}.osm.gz")
        with gzip.open(path, "wt", encoding="utf-8", compresslevel=6) as f:
            f.write(_xml_doc(diff))
        paths[seq] = path
    return paths


# -- the model --------------------------------------------------------------


def _area_m2(b: tuple[str, str, str, str]) -> float:
    """Equal-area bbox size on the EASE-Grid sphere, latitudes clamped."""
    min_lat, max_lat, min_lon, max_lon = b
    lat1 = math.radians(max(-90.0, min(90.0, float(Decimal(min_lat)))))
    lat2 = math.radians(max(-90.0, min(90.0, float(Decimal(max_lat)))))
    dlon = math.radians(float(Decimal(max_lon) - Decimal(min_lon)))
    return EASE_R * EASE_R * abs(dlon) * abs(math.sin(lat2) - math.sin(lat1))


def _epoch(t: datetime) -> int:
    return int((t - datetime(1970, 1, 1)).total_seconds())


@dataclass(frozen=True)
class QueryParams:
    """One seeded draw of the store query mix's parameters."""

    tag_key: str
    editor_prefix: str
    envelope: tuple[float, float, float, float]  # min_lon, min_lat, max_lon, max_lat
    user_id: int
    day_from: datetime
    day_to: datetime
    comment_from: datetime
    comment_to: datetime

    @staticmethod
    def draw(rng: random.Random, users: list[tuple[int, str]], days: int) -> "QueryParams":
        lon = rng.randrange(-180, 150)
        lat = rng.randrange(-60, 50)
        d0 = rng.randrange(0, days - 7)
        c0 = rng.randrange(0, days - 10)
        return QueryParams(
            tag_key=rng.choice(["comment", "source", "imagery_used", "locale"]),
            editor_prefix=rng.choice(["JOSM", "iD", "Potlatch", "StreetComplete"]),
            envelope=(float(lon), float(lat), float(lon + 30), float(lat + 20)),
            user_id=users[min(len(users) - 1, int(rng.expovariate(0.1)))][0],
            day_from=BASE + timedelta(days=d0),
            day_to=BASE + timedelta(days=d0 + rng.randint(1, 7)),
            comment_from=BASE + timedelta(days=c0),
            comment_to=BASE + timedelta(days=c0 + rng.randint(2, 10)),
        )


class StoreModel:
    """Last-write-wins replay of the same inputs; answers every store query."""

    def __init__(self, changesets: list[Changeset]) -> None:
        self.rows: dict[int, Changeset] = {c.id: c for c in changesets}

    def apply(self, diff: list[Changeset]) -> None:
        for c in diff:
            self.rows[c.id] = c

    def digest(self) -> dict[str, int]:
        d = dict.fromkeys(
            ("n", "sum_id", "id_x_changes", "id_x_tags", "id_x_comments",
             "closed_x_id", "n_open", "n_anon", "n_bbox"), 0,
        )
        for c in self.rows.values():
            d["n"] += 1
            d["sum_id"] += c.id
            d["id_x_changes"] += c.id * c.num_changes
            d["id_x_tags"] += c.id * len(c.tags)
            d["id_x_comments"] += c.id * len(c.comments)
            if c.closed_at is not None:
                d["closed_x_id"] += (_epoch(c.closed_at) % 100003) * (c.id % 1009)
            d["n_open"] += c.open
            d["n_anon"] += c.uid is None
            d["n_bbox"] += c.bbox is not None
        return d

    def answers(self, p: QueryParams) -> dict[str, object]:
        rows = self.rows.values()
        e_min_lon, e_min_lat, e_max_lon, e_max_lat = p.envelope
        per_user: dict[int, int] = {}
        for c in rows:
            if c.uid is not None:
                per_user[c.uid] = per_user.get(c.uid, 0) + 1
        top = sorted(per_user.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        mine = [c for c in rows if c.uid == p.user_id]
        return {
            "tag_exists": sum(p.tag_key in c.tags for c in rows),
            "editor_like": sum(
                c.tags.get("created_by", "").startswith(p.editor_prefix) for c in rows
            ),
            "envelope": sum(
                c.bbox is not None
                and float(Decimal(c.bbox[2])) >= e_min_lon
                and float(Decimal(c.bbox[3])) <= e_max_lon
                and float(Decimal(c.bbox[0])) >= e_min_lat
                and float(Decimal(c.bbox[1])) <= e_max_lat
                for c in rows
            ),
            "small_area": sum(
                c.bbox is not None and _area_m2(c.bbox) < AREA_LIMIT_M2 for c in rows
            ),
            "user_stats": (len(mine), sum(c.num_changes for c in mine) if mine else None),
            "day_range": sum(p.day_from <= c.created_at < p.day_to for c in rows),
            "open": sum(c.open for c in rows),
            "comment_window": sum(
                p.comment_from <= d < p.comment_to for c in rows for _, _, d, _ in c.comments
            ),
            "top_users": top,
        }

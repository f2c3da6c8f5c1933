"""Seeded Yelp Academic Dataset stand-in (FIXTURES.md A1-A6).

Writes the five JSON-lines entities (``business.json`` ... ``tip.json``,
the plain names ``sources.yelp.read_entity`` accepts) plus a backlog of
enveloped stream events, one fixed-size micro-batch per file. The same
``(seed, scale)`` gives byte-identical files: every draw comes from one
``random.Random(seed)`` in a fixed order and ``json.dumps`` keeps key order.

What the generator guarantees, because the queries depend on it:

* both checkin ``date`` encodings: a comma-joined timestamp string, and a
  JSON object whose values are comma-joined timestamps (A4);
* dangling foreign keys (reviews, checkins and tips for unknown businesses)
  and duplicate primary keys (repeated business/user/review lines) (A1-A3);
* mixed attribute encodings: ``true`` vs ``"True"`` vs ``"u'casual'"``, int
  vs string price range, nested objects vs their Python-repr strings (A1);
* every city holds more than 5 businesses (the ``HAVING COUNT > 5`` routes);
* skewed popularity: reviews and checkins pick businesses and users with
  Zipf-like weights, so a few businesses carry most of the facts.

Duplicate lines are exact copies, so which copy the ETL's dedup keeps cannot
change any answer. Streamed events follow the reference producer's
60/20/10/10 review/checkin/business/user mix and include replayed review
ids and reviews for businesses created earlier in the stream (A6).
"""

from __future__ import annotations

import itertools
import json
import os
import random

# reference load defaults (sources/etl.DEFAULT_LIMITS) at scale 1.0; tips and
# checkin rows scale with them
BASE_COUNTS = {"business": 10_000, "user": 50_000, "review": 100_000}

CITIES = (
    ("Phoenix", "AZ"), ("Tucson", "AZ"), ("Las Vegas", "NV"), ("Reno", "NV"),
    ("Philadelphia", "PA"), ("Pittsburgh", "PA"), ("Tampa", "FL"), ("Orlando", "FL"),
    ("Nashville", "TN"), ("Memphis", "TN"), ("Indianapolis", "IN"), ("St. Louis", "MO"),
    ("New Orleans", "LA"), ("Santa Barbara", "CA"), ("Austin", "TX"), ("Houston", "TX"),
    ("Boise", "ID"), ("Edmonton", "AB"), ("Tempe", "AZ"), ("Clearwater", "FL"),
)
CATEGORIES = (
    "Restaurants", "Food", "Shopping", "Nightlife", "Bars", "Coffee & Tea", "Cafes",
    "Pizza", "Mexican", "Italian", "Chinese", "Burgers", "Sandwiches", "Breakfast & Brunch",
    "Beauty & Spas", "Hair Salons", "Automotive", "Home Services", "Health & Medical",
    "Fitness", "Hotels & Travel", "Event Planning", "Bakeries", "Desserts", "Diners",
)
NAME_WORDS = (
    "Golden", "Blue", "Red", "Happy", "Lucky", "Urban", "Old", "Sunny", "Royal", "Little",
    "Grand", "Corner", "River", "Desert", "Maple", "Copper", "Silver", "Green",
)
NAME_KINDS = (
    "Grill", "Cafe", "Diner", "Bistro", "Kitchen", "Bar", "Salon", "Market", "Bakery",
    "Garage", "Studio", "Tavern", "Eatery", "Shop", "Spa",
)
FIRST_NAMES = (
    "Ann", "Bob", "Cal", "Dee", "Eve", "Fay", "Gus", "Hal", "Ivy", "Jay", "Kim", "Lou",
    "Max", "Ned", "Ola", "Pam", "Quin", "Ray", "Sue", "Tom",
)
WORDS = (
    "great", "food", "service", "slow", "friendly", "staff", "price", "fresh", "tasty",
    "clean", "loud", "cozy", "wait", "again", "best", "worst", "coffee", "menu", "visit",
)
_ID_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-_"
DAYS = ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday")

# the reference producer's topic weights (streaming/producer.py:329-333)
EVENT_MIX = (("yelp-reviews", 60), ("yelp-checkins", 20),
             ("yelp-businesses", 10), ("yelp-users", 10))


class _Ids:
    """22-character Yelp-style ids, unique within one generator run."""

    def __init__(self, rng: random.Random):
        self.rng, self.seen = rng, set()

    def new(self) -> str:
        while True:
            s = "".join(self.rng.choice(_ID_CHARS) for _ in range(22))
            if s not in self.seen:
                self.seen.add(s)
                return s


def _zipf_cum(n: int, rng: random.Random, exponent: float = 0.9) -> list[float]:
    """Cumulative Zipf weights over a seeded permutation of ``range(n)``:
    the most popular item is a random one, not item 0."""
    ranks = list(range(n))
    rng.shuffle(ranks)
    return list(itertools.accumulate(1.0 / (r + 1) ** exponent for r in ranks))


def _ts(rng: random.Random, y0: int = 2016, y1: int = 2023) -> str:
    return "%04d-%02d-%02d %02d:%02d:%02d" % (
        rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28),
        rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
    )


def _text(rng: random.Random, lo: int = 4, hi: int = 16) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _attributes(rng: random.Random):
    kind = rng.randrange(6)
    if kind == 0:
        return None
    attrs = {}
    if rng.random() < 0.6:
        attrs["GoodForKids"] = rng.choice([True, "True", False, "False"])
    if rng.random() < 0.5:
        attrs["RestaurantsPriceRange2"] = rng.choice([1, 2, 3, "2", "4"])
    if rng.random() < 0.4:
        attrs["RestaurantsAttire"] = rng.choice(["u'casual'", "'dressy'", "casual"])
    if rng.random() < 0.4:
        parking = {"garage": rng.random() < 0.3, "lot": rng.random() < 0.6}
        attrs["BusinessParking"] = parking if kind % 2 else repr(parking)
    if rng.random() < 0.3:
        attrs["HasTV"] = rng.choice([True, "False"])
    return attrs


def _business(rng: random.Random, ids: _Ids, idx: int) -> dict:
    city, state = CITIES[idx % len(CITIES)] if idx < 6 * len(CITIES) else rng.choice(CITIES)
    roll = rng.random()
    cats = None if roll < 0.04 else "" if roll < 0.06 else ", ".join(
        rng.sample(CATEGORIES[:8] if rng.random() < 0.6 else CATEGORIES, rng.randint(1, 4)))
    return {
        "business_id": ids.new(),
        "name": f"{rng.choice(NAME_WORDS)} {rng.choice(NAME_KINDS)}",
        "address": f"{rng.randint(1, 9999)} Main St",
        "city": city,
        "state": state,
        "postal_code": "" if rng.random() < 0.03 else "%05d" % rng.randint(10000, 99999),
        "latitude": None if rng.random() < 0.02 else round(rng.uniform(25, 49), 6),
        "longitude": None if rng.random() < 0.02 else round(rng.uniform(-125, -70), 6),
        "stars": rng.randint(2, 10) / 2,
        "review_count": rng.randint(0, 500),
        "is_open": int(rng.random() < 0.8),
        "categories": cats,
        "attributes": _attributes(rng),
        "hours": {} if rng.random() < 0.3 else {d: "9:0-17:0" for d in DAYS[: rng.randint(1, 7)]},
    }


def _user(rng: random.Random, ids: _Ids) -> dict:
    since = _ts(rng, 2006, 2020)
    return {
        "user_id": ids.new(),
        "name": None if rng.random() < 0.02 else rng.choice(FIRST_NAMES),
        "review_count": rng.randint(0, 300),
        "yelping_since": since if rng.random() < 0.3 else since[:10],
        "fans": rng.randint(0, 50),
        "average_stars": round(rng.uniform(1, 5), 2),
        "friends": [],
    }


def _checkin_date(rng: random.Random, n: int):
    stamps = sorted(_ts(rng, 2012, 2023) for _ in range(n))
    if rng.random() < 0.5:
        return ", ".join(stamps)
    by_day: dict[str, list[str]] = {}
    for s in stamps:
        by_day.setdefault(s[:10], []).append(s)
    return {d: ", ".join(v) for d, v in by_day.items()}


def _write_jsonl(path: str, records) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")


class YelpData:
    """The generated records, kept in memory for the benchmark's
    independent answer checks."""

    def __init__(self, business, user, review, checkin, tip, events):
        self.business, self.user, self.review = business, user, review
        self.checkin, self.tip, self.events = checkin, tip, events


def generate(seed: int, scale: float, n_batches: int = 0, batch_size: int = 0) -> YelpData:
    """All records for ``seed`` at ``scale`` × the reference load, plus
    ``n_batches`` stream micro-batches of ``batch_size`` events each."""
    rng = random.Random(seed)
    ids = _Ids(rng)
    n_biz, n_user, n_rev = (max(1, int(BASE_COUNTS[k] * scale)) for k in ("business", "user", "review"))

    business = [_business(rng, ids, i) for i in range(n_biz)]
    user = [_user(rng, ids) for _ in range(n_user)]
    biz_cum, user_cum = _zipf_cum(n_biz, rng), _zipf_cum(n_user, rng)
    biz_ids = [b["business_id"] for b in business]
    user_ids = [u["user_id"] for u in user]
    dangling = [ids.new() for _ in range(8)]

    review = []
    for _ in range(n_rev):
        bid = rng.choices(biz_ids, cum_weights=biz_cum)[0]
        if rng.random() < 0.01:
            bid = rng.choice(dangling)
        review.append({
            "review_id": ids.new(),
            "business_id": bid,
            "user_id": rng.choices(user_ids, cum_weights=user_cum)[0],
            "stars": rng.randint(1, 5),
            "date": _ts(rng),
            "text": _text(rng),
            "useful": rng.randint(0, 40),
            "funny": rng.randint(0, 10),
            "cool": rng.randint(0, 20),
        })
    checkin = []
    for bid in rng.sample(biz_ids, n_biz // 2) + dangling[:2]:
        checkin.append({"business_id": bid, "date": _checkin_date(rng, rng.randint(1, 12))})
    tip = []
    for _ in range(n_rev // 10):
        bid = rng.choice(dangling) if rng.random() < 0.01 else rng.choices(biz_ids, cum_weights=biz_cum)[0]
        date = _ts(rng)
        tip.append({
            "business_id": bid,
            "user_id": rng.choice(user_ids),
            "text": _text(rng, 2, 8),
            "date": date if rng.random() < 0.5 else date[:10],
            "compliment_count": rng.randint(0, 5),
        })
    # exact duplicate lines: the ETL's dedup must collapse them
    for rows in (business, user, review):
        for r in rng.sample(rows, max(1, len(rows) // 100)):
            rows.insert(rng.randrange(len(rows) + 1), dict(r))

    events = _events(rng, ids, business, user, review, n_batches * batch_size)
    return YelpData(business, user, review, checkin, tip, events)


def _events(rng, ids, business, user, review, n: int) -> list[dict]:
    """``n`` enveloped events in stream order (A6)."""
    biz_ids = [b["business_id"] for b in business]
    user_ids = [u["user_id"] for u in user]
    biz_cum = _zipf_cum(len(biz_ids), rng)
    known = set(biz_ids)
    old_reviews = [_envelope(r) for r in review[:2000] if r["business_id"] in known][:200]
    topics = [t for t, _ in EVENT_MIX]
    weights = [w for _, w in EVENT_MIX]
    new_biz: list[str] = []
    new_users: list[str] = []
    streamed: list[dict] = []
    out = []
    for _ in range(n):
        topic = rng.choices(topics, weights=weights)[0]
        if topic == "yelp-reviews":
            roll = rng.random()
            if roll < 0.05 and (streamed or old_reviews):
                # replayed review id: a duplicate delivery of an earlier event
                ev = dict(rng.choice(streamed if streamed and roll < 0.025 else old_reviews))
                out.append(ev)
                continue
            bid = rng.choice(new_biz) if new_biz and roll < 0.15 else rng.choices(
                biz_ids, cum_weights=biz_cum)[0]
            uid = rng.choice(new_users) if new_users and rng.random() < 0.1 else rng.choice(user_ids)
            ev = {"topic": topic, "review_id": ids.new(), "business_id": bid, "user_id": uid,
                  "stars": rng.randint(1, 5), "date": _ts(rng, 2023, 2023).replace(" ", "T"),
                  "text": _text(rng), "useful": 0, "funny": 0, "cool": 0}
            streamed.append(ev)
        elif topic == "yelp-checkins":
            pool = new_biz if new_biz and rng.random() < 0.2 else biz_ids
            ev = {"topic": topic, "business_id": rng.choice(pool),
                  "date": _ts(rng, 2023, 2023).replace(" ", "T"), "count": rng.randint(1, 5)}
        elif topic == "yelp-businesses":
            if rng.random() < 0.1:  # re-announcement of an existing business
                b = business[rng.randrange(len(business))]
                bid, city, state = b["business_id"], b["city"], b["state"]
            else:
                bid = ids.new()
                city, state = rng.choice(CITIES)
                new_biz.append(bid)
            ev = {"topic": topic, "business_id": bid,
                  "name": f"{rng.choice(NAME_WORDS)} {rng.choice(NAME_KINDS)}",
                  "city": city, "state": state, "postal_code": "%05d" % rng.randint(10000, 99999),
                  "stars": rng.randint(2, 10) / 2, "review_count": 0, "is_open": 1}
        else:
            uid = ids.new()
            new_users.append(uid)
            ev = {"topic": topic, "user_id": uid, "name": rng.choice(FIRST_NAMES),
                  "review_count": 0, "yelping_since": "2023-01-01", "fans": 0,
                  "average_stars": 0.0}
        out.append(ev)
    return out


def _envelope(r: dict) -> dict:
    """A raw review line as a review event (replays of batch-loaded facts)."""
    return {"topic": "yelp-reviews", **{k: r[k] for k in (
        "review_id", "business_id", "user_id", "stars", "date", "text",
        "useful", "funny", "cool")}}


def write(data: YelpData, raw_dir: str, events_dir: str | None = None,
          batch_size: int = 0) -> list[str]:
    """Write the entities under ``raw_dir`` and, when ``events_dir`` is given,
    one ``batch_NNNNN.json`` per ``batch_size`` events. Returns the batch
    file paths in stream order."""
    os.makedirs(raw_dir, exist_ok=True)
    for name in ("business", "user", "review", "checkin", "tip"):
        _write_jsonl(os.path.join(raw_dir, f"{name}.json"), getattr(data, name))
    paths: list[str] = []
    if events_dir is None:
        return paths
    os.makedirs(events_dir, exist_ok=True)
    for i in range(0, len(data.events), batch_size):
        p = os.path.join(events_dir, "batch_%05d.json" % (i // batch_size))
        _write_jsonl(p, data.events[i:i + batch_size])
        paths.append(p)
    return paths

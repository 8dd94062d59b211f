"""Seeded generator of queue jobs for the ingest workloads.

A job is one JSON object, the wire shape a queue worker pops:

    {"event_id": 17, "ts": <epoch nanos>, "user_id": 4, "event_type": "page_view",
     "value": 12.5, "props": {...free-form, camelCase, nested...}}

The free-form ``props`` body carries camelCase keys, a nested record, an
array of strings, an array of records, ISO date strings, ints, floats and
booleans.  The stream has a fixed design that the pipeline must honour:

- about 40 event types, Zipf-skewed;
- new keys appear at fixed points (ADD COLUMN on every table);
- two int keys turn into strings at fixed points (widen to String);
- a fixed ~1% of jobs are invalid: no ``event_type``, an empty one, or a
  body that is not JSON at all (the job written as a logfmt line).

The stream opens with one "full" job per type (every base key, longest
arrays) and closes with one full job per type (every key, including the
added ones, conflict keys already strings).  Because every micro-batch's
JSON schema is inferred over the whole batch, a table's columns are the
union over the batches it appears in; the opening and closing rounds make
the final schema of every table the same, whatever the batch boundaries.
``expectation`` derives that schema, the valid count per type and a few
read-back aggregates from the generator's own design, without calling the
pipeline.

Run ``python3 perfbench/gen_events.py --seed 1 --events 10`` to print jobs.
"""

import argparse
import json
import random
import re

N_TYPES = 40
ZIPF_S = 1.1
INVALID_SHARE = 0.01
BASE_TS_NS = 1_717_200_000 * 10**9  # 2024-06-01T00:00:00Z
TS_STEP_NS = 150 * 10**6            # mean spacing between events

# Event type names: 40 fixed names, ranked by a seeded permutation.
TYPE_NAMES = [
    "page_view", "click", "add_to_cart", "remove_from_cart", "checkout_start",
    "checkout_done", "signup", "login", "logout", "search",
    "video_play", "video_pause", "video_complete", "share", "like",
    "comment", "follow", "unfollow", "purchase", "refund",
    "coupon_apply", "wishlist_add", "review_submit", "rating", "notification_open",
    "email_open", "email_click", "push_receive", "app_open", "app_close",
    "error", "crash", "form_submit", "file_download", "file_upload",
    "subscription_start", "subscription_cancel", "trial_start", "invite_send", "level_up",
]
assert len(TYPE_NAMES) == N_TYPES

TAGS_MAX = 3
ITEMS_MAX = 2

# Keys that appear at a fixed share of the stream body (ADD COLUMN).  Each
# adds the listed flattened columns to every table.  A drain in three equal
# micro-batches creates the tables in the first, adds these columns in the
# second and widens in the third.
ADDED_KEYS = [
    (0.34, "referrer", [("referrer_source", "string"), ("referrer_campaign_id", "bigint")]),
    (0.40, "experimentArm", [("experiment_arm", "string")]),
    (0.46, "scrollDepth", [("scroll_depth", "double")]),
]
# Int keys that become strings at a fixed share of the stream body (widen).
WIDENED_KEYS = [(0.70, "retryCount", "retry_count"), (0.70, "accountId", "account_id")]

# Flattened base columns of ``props`` and their Spark types.
BASE_COLUMNS = (
    [("page_url", "string"), ("session_id", "string"), ("duration_ms", "bigint"),
     ("price", "double"), ("is_mobile", "boolean"), ("created_at", "timestamp"),
     ("device_os_name", "string"), ("device_os_version", "string"),
     ("device_screen_width", "bigint"), ("retry_count", "bigint"), ("account_id", "bigint")]
    + [(f"tags_{i}", "string") for i in range(TAGS_MAX)]
    + [(f"items_{i}_{f}", t) for i in range(ITEMS_MAX)
       for f, t in (("sku", "string"), ("qty", "bigint"), ("unit_price", "double"))]
)
# Envelope columns kept next to the flattened body, and the enrichment
# columns the pipeline stamps on every row.
ENVELOPE_COLUMNS = [("event_id", "bigint"), ("ts", "bigint"), ("user_id", "bigint"),
                    ("value", "double")]
ENRICH_COLUMNS = [("received_at", "timestamp"), ("sent_at", "timestamp"),
                  ("message_id", "string"), ("timestamp", "timestamp"),
                  ("stream_batch_id", "bigint")]

OS_NAMES = ["ios", "android", "windows", "macos", "linux"]
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]


def snake_case(s):
    """The pipeline's camelCase -> snake_case rule."""
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s)
    s = re.sub(r"([A-Z]+)([A-Z][a-z])", r"\1_\2", s)
    return "_".join(p for p in re.split(r"[^A-Za-z0-9]+", s) if p).lower()


def _zipf_cdf(n, s):
    w = [1.0 / (r ** s) for r in range(1, n + 1)]
    tot = sum(w)
    acc, cdf = 0.0, []
    for x in w:
        acc += x / tot
        cdf.append(acc)
    cdf[-1] = 1.0
    return cdf


def _pick(rng, cdf):
    u = rng.random()
    lo, hi = 0, len(cdf) - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if cdf[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return lo


def _iso(ns):
    sec = ns // 10**9
    days, rem = divmod(sec, 86400)
    # civil-from-days (proleptic Gregorian), so no datetime/locale quirks
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    y += m <= 2
    return "%04d-%02d-%02dT%02d:%02d:%02dZ" % (y, m, d, rem // 3600, rem // 60 % 60, rem % 60)


class Design:
    """The fixed change points of a stream of ``n`` jobs."""

    def __init__(self, n):
        if n < 4 * N_TYPES:
            raise ValueError(f"need at least {4 * N_TYPES} jobs, got {n}")
        self.n = n
        self.body_lo = N_TYPES          # first index after the opening round
        self.body_hi = n - N_TYPES      # first index of the closing round
        span = self.body_hi - self.body_lo
        self.added_at = {k: self.body_lo + int(f * span) for f, k, _ in ADDED_KEYS}
        self.widened_at = {k: self.body_lo + int(f * span) for f, k, _ in WIDENED_KEYS}


def _props(rng, i, design, full):
    """The free-form body of job ``i``; ``full`` sets every key present."""
    def maybe(p):
        return full or rng.random() < p

    ts_created = BASE_TS_NS - rng.randrange(400 * 86400) * 10**9
    p = {
        "pageUrl": "/p/%d" % rng.randrange(5000),
        "sessionId": "s-%06x" % rng.randrange(1 << 24),
        "durationMs": rng.randrange(1, 120000),
        "price": round(rng.uniform(0.5, 500.0), 2),
        "isMobile": rng.random() < 0.4,
        "createdAt": _iso(ts_created),
    }
    if maybe(0.8):
        p["device"] = {"osName": rng.choice(OS_NAMES),
                       "osVersion": "%d.%d" % (rng.randrange(8, 18), rng.randrange(10)),
                       "screenWidth": rng.choice([360, 390, 414, 768, 1280, 1920])}
    if maybe(0.7):
        n_tags = TAGS_MAX if full else rng.randrange(TAGS_MAX + 1)
        p["tags"] = [rng.choice(WORDS) for _ in range(n_tags)]
    if maybe(0.5):
        n_items = ITEMS_MAX if full else rng.randrange(1, ITEMS_MAX + 1)
        p["items"] = [{"sku": "sku-%04d" % rng.randrange(10000),
                       "qty": rng.randrange(1, 9),
                       "unitPrice": round(rng.uniform(1.0, 99.0), 2)} for _ in range(n_items)]
    for key, _col in [(k, c) for _, k, c in WIDENED_KEYS]:
        if maybe(0.6):
            v = rng.randrange(1, 100000)
            p[key] = ("%s-%d" % (key[:3], v)) if i >= design.widened_at[key] else v
    for _, key, _cols in ADDED_KEYS:
        if i >= design.added_at[key] and maybe(0.5):
            if key == "referrer":
                p[key] = {"source": rng.choice(["ads", "mail", "social", "direct"]),
                          "campaignId": rng.randrange(1, 500)}
            elif key == "experimentArm":
                p[key] = rng.choice(["control", "treatment_a", "treatment_b"])
            else:
                p[key] = round(rng.uniform(0.01, 1.0), 3)
    return p


def _logfmt(job):
    """The job as a ``key=value`` line: a body that is not JSON at all."""
    return " ".join("%s=%s" % (k, json.dumps(v, separators=(",", ":")) if k == "props" else v)
                    for k, v in job.items())


def generate(seed, n):
    """Return (jobs, meta): ``jobs`` is a list of job strings, JSON except
    the planted non-JSON ones (one per job, byte-identical for the same
    seed and size), ``meta`` a list of
    (event_type or None, event_id, ts, screen_width or None) per job,
    with event_type None for an invalid job."""
    design = Design(n)
    rng = random.Random(seed)
    ranked = TYPE_NAMES[:]
    rng.shuffle(ranked)
    cdf = _zipf_cdf(N_TYPES, ZIPF_S)
    body = range(design.body_lo, design.body_hi)
    n_invalid = max(3, round(INVALID_SHARE * n))
    invalid = dict(zip(sorted(rng.sample(body, n_invalid)),
                       [k % 3 for k in range(n_invalid)]))
    jobs, meta = [], []
    ts = BASE_TS_NS
    for i in range(n):
        if i < design.body_lo:
            etype, full = ranked[i], True
        elif i >= design.body_hi:
            etype, full = ranked[i - design.body_hi], True
        else:
            etype, full = ranked[_pick(rng, cdf)], False
        ts += rng.randrange(1, 2 * TS_STEP_NS)
        props = _props(rng, i, design, full)
        job = {"event_id": i + 1, "ts": ts, "user_id": rng.randrange(1, 2000),
               "event_type": etype, "value": round(rng.uniform(0.0, 1000.0), 3),
               "props": props}
        kind = invalid.get(i)
        if kind == 0:
            del job["event_type"]
        elif kind == 1:
            job["event_type"] = ""
        if kind == 2:
            text = _logfmt(job)
        else:
            text = json.dumps(job, separators=(",", ":"))
        jobs.append(text)
        width = props["device"]["screenWidth"] if "device" in props else None
        meta.append((None if kind is not None else etype, i + 1, ts, width))
    return jobs, meta


def expectation(meta, n):
    """What the tables must hold after every job of a stream of ``n`` jobs
    has been ingested, derived from the design alone."""
    per_type = {}
    invalid = []
    for etype, eid, ts, width in meta:
        if etype is None:
            invalid.append(eid)
            continue
        t = per_type.setdefault(etype, {"ids": [], "hours": {}, "screen_width_sum": 0})
        t["ids"].append(eid)
        hour = ts // (3600 * 10**9)
        t["hours"][hour] = t["hours"].get(hour, 0) + 1
        t["screen_width_sum"] += width or 0
    widened = {c for _, _, c in WIDENED_KEYS}
    columns = dict(ENVELOPE_COLUMNS + ENRICH_COLUMNS)
    for name, typ in BASE_COLUMNS:
        columns[name] = "string" if name in widened else typ
    for _, _, cols in ADDED_KEYS:
        columns.update(cols)
    return {
        "n_jobs": n,
        "invalid_ids": invalid,
        "types": per_type,
        "schema": columns,
        # every table exists before the first change point and sees every
        # change, so each change is one schema event per table
        "columns_added_per_table": sum(len(c) for _, _, c in ADDED_KEYS),
        "columns_widened_per_table": len(WIDENED_KEYS),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=1000)
    args = ap.parse_args()
    for job in generate(args.seed, args.events)[0]:
        print(job)


if __name__ == "__main__":
    main()

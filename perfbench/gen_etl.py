"""Seeded input generator for the etl_load workload, with ground truth.

Writes two batches in the reference's input shapes (FIXTURES.md section A)
plus a tiny warm-up batch:

    <out>/A/events.jsonl  users.csv  intl.jsonl   loaded into an empty warehouse
    <out>/B/...                                   merged into A's warehouse
    <out>/W/...                                   warm-up only

Batch B shares half of its event ids (and sale ids) with A, with other
timestamps, so its load goes through the MERGE path.

The edge-case mix: ~10% invalid event types, ~5% null-ish user ids,
unparseable timestamps, malformed JSON lines, lines missing required
fields, in-batch duplicate ids with a different ts, users present in the
events but not in users.csv and the reverse.

The expected quality-report counts of each batch, and the fact row counts
after the merge, are computed here from the generated records, by the
pipeline's documented rules, without running the program.
"""
import json
import random

ALLOWED = {"pageview", "signup", "purchase"}
VALID_SPELLINGS = ["pageview", "page_view", "Page View", "page view",
                   "Page-View", " PAGEVIEW ", "view", "signup", "SignUp",
                   "SIGNUP", "purchase", "Purchase", " purchase "]
INVALID_TYPES = ["click", "logout", "refund_requested"]
NULLISH_USERS = [None, "", "nan", "None", "<NA>", "  "]
BAD_TIMES = ["BAD_TIME", "not-a-date"]
REQUIRED = ["event_id", "ts", "event"]
DAYS = 28
BASE_DAY = 1  # 2024-03-01


def normalize_event(e):
    """The transform's event-name cleanup: trim, lower, [- ] -> _, then
    the canonical map."""
    t = e.strip(" ").lower().replace("-", "_").replace(" ", "_")
    return {"page_view": "pageview", "view": "pageview"}.get(t, t)


def scrub_user(u):
    """Null-ish user ids ('', 'nan', 'None', '<NA>', blanks) become null."""
    if u is None:
        return None
    t = u.strip(" ")
    return None if t in ("", "nan", "None", "<NA>") else t


def iso(micros):
    """2024-03-DDTHH:MM:SS.ffffffZ for micros past 2024-03-01T00:00Z."""
    sec, us = divmod(micros, 1_000_000)
    day, rem = divmod(sec, 86400)
    hh, rem = divmod(rem, 3600)
    mm, ss = divmod(rem, 60)
    return "2024-03-%02dT%02d:%02d:%02d.%06dZ" % (BASE_DAY + day, hh, mm, ss, us)


class Batch:
    def __init__(self, rng, n_lines, n_users, id_prefix, shared_ids=(),
                 shared_sales=(), n_sales=0, sale_prefix="s"):
        self.rng = rng
        self.lines = []         # serialized JSONL lines
        self.good = []          # (event_id, ts_micros, normalized, user)
        self.bad_ingest = 0
        self.ts_used = {}       # event_id -> set of ts used (kept distinct)
        self.ids = []
        self.users = ["u%05d" % i for i in range(n_users)]
        shared_ids = list(shared_ids)
        n_new = 0
        while len(self.lines) < n_lines:
            r = rng.random()
            if r < 0.004:
                self._malformed()
            elif r < 0.014:
                self._missing(self._new_id(id_prefix, n_new))
                n_new += 1
            elif r < 0.024:
                self._event(self._new_id(id_prefix, n_new), bad_ts=True)
                n_new += 1
            elif r < 0.054 and self.ids:
                self._event(rng.choice(self.ids))          # in-batch duplicate
            elif shared_ids and r < 0.55:
                self._event(shared_ids.pop())               # id also in A
            else:
                self._event(self._new_id(id_prefix, n_new))
                n_new += 1
        self.lines.insert(rng.randrange(len(self.lines)), "")
        self.lines.insert(rng.randrange(len(self.lines)), "   ")
        self.sales, self.sale_lines = self._sales(n_sales, sale_prefix,
                                                  list(shared_sales))

    def _new_id(self, prefix, k):
        return "%s-%07d" % (prefix, k)

    def _ts(self, event_id):
        used = self.ts_used.setdefault(event_id, set())
        while True:
            t = self.rng.randrange(DAYS * 86400 * 1_000_000)
            if t not in used:
                used.add(t)
                return t

    def _user(self):
        if self.rng.random() < 0.05:
            return self.rng.choice(NULLISH_USERS)
        u = self.rng.choice(self.users)
        return " %s " % u if self.rng.random() < 0.02 else u

    def _fields(self, event_id, ts_text):
        rng = self.rng
        ev = (rng.choice(INVALID_TYPES) if rng.random() < 0.10
              else rng.choice(VALID_SPELLINGS))
        rec = {"event_id": event_id, "ts": ts_text, "event": ev}
        u = self._user()
        if u is not None or rng.random() < 0.5:
            rec["user_id"] = u
        if normalize_event(ev) == "purchase":
            a = round(rng.uniform(1, 500), 2)
            rec["amount"] = a if rng.random() < 0.7 else str(a)
            if rng.random() < 0.02:
                rec["amount"] = "n/a"
        if rng.random() < 0.5:
            rec["page"] = "/p/%d" % rng.randrange(50)
        return rec

    def _event(self, event_id, bad_ts=False):
        if bad_ts:
            rec = self._fields(event_id, self.rng.choice(BAD_TIMES))
            self.bad_ingest += 1
        else:
            t = self._ts(event_id)
            rec = self._fields(event_id, iso(t))
            self.good.append((event_id, t, normalize_event(rec["event"]),
                              scrub_user(rec.get("user_id"))))
        self.ids.append(event_id)
        self.lines.append(json.dumps(rec))

    def _missing(self, event_id):
        rec = self._fields(event_id, iso(self._ts(event_id)))
        for f in self.rng.sample(REQUIRED, self.rng.choice([1, 2])):
            del rec[f]
        self.bad_ingest += 1
        self.lines.append(json.dumps(rec))

    def _malformed(self):
        rng = self.rng
        self.lines.append(rng.choice([
            '{"event_id": "broken-%d", "ts": ' % rng.randrange(10**6),
            "this is not json %d" % rng.randrange(10**6),
            '{event_id: %d}' % rng.randrange(10**6)]))
        self.bad_ingest += 1

    def _sales(self, n, prefix, shared):
        rng = self.rng
        valid, lines = set(), []
        for k in range(n):
            sid = shared.pop() if shared and rng.random() < 0.5 \
                else "%s-%06d" % (prefix, k)
            day = rng.randrange(365)
            date = "2023-%02d-%02d" % (1 + day // 31 % 12, 1 + day % 28)
            rec = {"sale_id": sid,
                   "ts": "%sT%02d:%02d:%02dZ" % (date, rng.randrange(24),
                                                 rng.randrange(60),
                                                 rng.randrange(60)),
                   "date_key": date,
                   "customer": None if rng.random() < 0.02
                   else "cust-%03d" % rng.randrange(300),
                   "sku": None if rng.random() < 0.02
                   else "SKU-%04d" % rng.randrange(800),
                   "pcs": rng.randrange(1, 6),
                   "rate": round(rng.uniform(100, 2000), 2),
                   "gross_amt": None if rng.random() < 0.02
                   else round(rng.uniform(100, 9000), 2),
                   "currency": "INR",
                   "source_dataset": "amazon_sale_report"}
            if all(rec[f] is not None for f in ("customer", "sku",
                                                "gross_amt")):
                valid.add(sid)
            lines.append(json.dumps(rec))
        return valid, lines

    def report(self):
        """Quality-report counts the pipeline must produce for this batch
        alone (the fact counts are filled in by the caller)."""
        allowed = [g for g in self.good if g[2] in ALLOWED]
        latest = {}
        for g in allowed:
            if g[0] not in latest or g[1] > latest[g[0]][1]:
                latest[g[0]] = g
        users = [g[3] for g in latest.values()]
        invalid = len(self.good) - len(allowed)
        return {
            "rows_in": len(self.good),
            "rows_out": len(latest),
            "invalid_event_type": invalid,
            "null_user_rows": sum(u is None for u in users),
            "distinct_users": len({u for u in users if u is not None}),
            "bad_records_total": self.bad_ingest + invalid,
        }, set(latest)

    def users_csv(self, rng):
        """Most of the batch's users plus some that never appear in the
        events; a few blank attributes."""
        rows = [u for u in self.users if rng.random() < 0.9]
        rows += ["x%05d" % i for i in range(len(self.users) // 20)]
        out = ["user_id,country,signup_source"]
        for u in rows:
            country = "" if rng.random() < 0.03 else rng.choice(
                ["US", "IN", "DE", "BR", "JP"])
            source = "" if rng.random() < 0.03 else rng.choice(
                ["ads", "organic", "referral"])
            out.append("%s,%s,%s" % (u, country, source))
        return "\n".join(out) + "\n"


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)
    return len(text.encode())


def generate(out, seed, n_lines):
    """Write batches A, B and W under `out`; return the ground truth."""
    import os
    rng = random.Random(seed)
    n_users = max(50, n_lines // 8)
    n_sales = max(100, n_lines // 20)
    a = Batch(rng, n_lines, n_users, "a%d" % seed, n_sales=n_sales,
              sale_prefix="sa")
    a_ids = sorted(set(a.ids))
    rng.shuffle(a_ids)
    a_sales = sorted({json.loads(l)["sale_id"] for l in a.sale_lines})
    rng.shuffle(a_sales)
    b = Batch(rng, n_lines, n_users, "b%d" % seed,
              shared_ids=a_ids[: n_lines // 2], shared_sales=a_sales[: n_sales // 2],
              n_sales=n_sales, sale_prefix="sb")
    w = Batch(random.Random(seed + 1), 400, 50, "w", n_sales=100,
              sale_prefix="sw")
    truth, in_bytes, lines = {}, 0, 0
    fact, sales = set(), set()
    for name, batch in (("A", a), ("B", b), ("W", w)):
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        size = _write(os.path.join(d, "events.jsonl"),
                      "\n".join(batch.lines) + "\n")
        size += _write(os.path.join(d, "users.csv"), batch.users_csv(rng))
        size += _write(os.path.join(d, "intl.jsonl"),
                       "\n".join(batch.sale_lines) + "\n")
        if name == "W":
            continue
        in_bytes += size
        lines += sum(1 for l in batch.lines if l.strip())
        report, ids = batch.report()
        fact |= ids
        sales |= batch.sales
        report["fact_events_rows"] = len(fact)
        report["intl_sales_rows"] = len(sales)
        truth[name] = report
    return {"reports": truth, "input_bytes": in_bytes, "input_lines": lines}


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]),
                              int(sys.argv[3])), indent=1))

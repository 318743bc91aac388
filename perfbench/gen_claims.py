"""Seeded claims-input generator for the benchmark's claims workloads.

Writes alpha CSV and beta JSON files in the formats `graft.claims`
reads, and next to them an `expected.json` holding, for every batch
(a list of file names, relative to the output directory, handed to
one `ClaimPipeline.run` call), the
`PipelineMetrics` counts and the SHA-256 of the candidate `claim_id`
sequence the pipeline must produce.

The expectations come from a small reference model of the pipeline's
rules in this file (`model_*`), evaluated on the raw field values, so a
run that disagrees with them is a wrong output, not a changed input.

Record shapes cover every classifier branch: exact retryable and
non-retryable reasons in mixed case, a keyword inside a sentence, null,
the `None` literal, whitespace padding, both date formats, unparseable
and padded dates, a missing patient, ages 6/7/8 days before the fixed
"today", and a small share of malformed records (short alpha rows, beta
fields of the wrong JSON type, and one unparseable beta file per
backfill batch).

Usage: python3 gen_claims.py OUT_DIR --seed N
"""

import argparse
import datetime
import hashlib
import json
import os
import random
import re

# Pipeline constants (graft.claims.Rules defaults).
TODAY = datetime.date(2025, 7, 30)
MIN_AGE_DAYS = 7
RETRYABLE = ("missing modifier", "incorrect npi", "prior auth required")
NON_RETRYABLE = ("authorization expired", "incorrect provider type")
KEYWORDS = ("incorrect procedure", "form incomplete", "not billable")
# Characters Normalize.trimToNull strips (Python str.strip() on Latin-1).
WHITESPACE = " \t\n\r\f\u000b\u001c\u001d\u001e\u001f\u0085 "
BUCKETS = ("not_denied_status", "patient_id_missing", "too_recent",
           "non-retryable_or_ambiguous", "malformed")
ALPHA_HEADER = ("claim_id", "patient_id", "procedure_code", "denial_reason",
                "submitted_at", "status")

# Generator parameters, recorded in spec.json.
BACKFILL = {"claims": 200_000, "alpha_files": 4, "beta_files": 4,
            "broken_beta_files": 1, "flag_rate": 0.30, "malformed_share": 0.01}


# --- reference model of the pipeline's rules ---------------------------------

_DATE_FORMATS = (
    (re.compile(r"\d{4}-\d{2}-\d{2}\Z"), "%Y-%m-%d"),
    (re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\Z"), "%Y-%m-%dT%H:%M:%S"),
)


def model_trim(v):
    if v is None:
        return None
    s = v.strip(WHITESPACE)
    return s or None


def model_date(raw):
    """`yyyy-MM-dd` or `yyyy-MM-dd'T'HH:mm:ss` on the raw value, else None."""
    if raw is None:
        return None
    for pattern, fmt in _DATE_FORMATS:
        if pattern.match(raw):
            try:
                return datetime.datetime.strptime(raw, fmt).date()
            except ValueError:
                return None
    return None


def model_classify(reason):
    if reason is None:
        return "ambiguous"
    r = reason.lower()
    if r in RETRYABLE:
        return "retryable"
    if r in NON_RETRYABLE:
        return "non-retryable"
    if any(k in r for k in KEYWORDS):
        return "retryable"
    return "ambiguous"


def model_outcome(source, claim_id, patient, reason, status, date):
    """Return (claim_id, None) when flagged, else (claim_id, exclusion bucket).

    Arguments are raw values as the loader sees them (None = null).
    """
    reason = model_trim(reason)
    if source == "alpha" and reason is not None and reason.lower() == "none":
        reason = None
    status = model_trim(status)
    status = status.lower() if status is not None else None
    patient = model_trim(patient)
    d = model_date(date)
    old = d is not None and (TODAY - d).days > MIN_AGE_DAYS
    cid = model_trim(claim_id)
    if status == "denied" and patient is not None and old and \
            model_classify(reason) == "retryable":
        return cid, None
    if status != "denied":
        return cid, "not_denied_status"
    if patient is None:
        return cid, "patient_id_missing"
    if not old:
        return cid, "too_recent"
    return cid, "non-retryable_or_ambiguous"


def id_hash(ids):
    """SHA-256 of the candidate claim_id sequence, one id per line (null as NUL)."""
    h = hashlib.sha256()
    for i in ids:
        h.update(("\0" if i is None else i).encode("utf-8") + b"\n")
    return h.hexdigest()


# --- record shapes -----------------------------------------------------------

def _day(n):
    return TODAY - datetime.timedelta(days=n)


def _shapes():
    """Field-value shapes as (patient, reason, status, date) raw strings.

    `None` means an empty CSV field / JSON null. Dates are day offsets
    rendered per source by `_render_date`.
    """
    mixed_case = ["Missing modifier", "INCORRECT NPI", "prior auth required",
                  "Prior Auth Required", "  missing modifier  ", "\tIncorrect NPI"]
    in_sentence = ["Claim rejected: incorrect procedure code on line 2",
                   "Form incomplete, see attached notes",
                   "Service NOT BILLABLE under current plan"]
    non_retry = ["Authorization expired", "incorrect provider type",
                 " AUTHORIZATION EXPIRED "]
    ambiguous = [None, "None", " none ", "Duplicate claim", "Unknown", ""]
    denied = ["denied", "Denied", " DENIED "]
    other = ["approved", "pending", "Approved ", None, ""]
    patients = ["P%05d" % i for i in range(1, 400)] + [" P00042 "]
    old_days = [8, 9, 15, 30, 120, 400]
    return {
        "retryable": mixed_case + in_sentence,
        "non_retryable": non_retry,
        "ambiguous": ambiguous,
        "denied": denied,
        "other_status": other,
        "patients": patients,
        "missing_patient": [None, "", "   "],
        "old_days": old_days,
        "recent_days": [0, 3, 6, 7],
    }


SHAPES = _shapes()
UNPARSEABLE_DATES = ["2025/07/01", "07-01-2025", "not a date", "2025-13-01"]


def _render_date(rng, days):
    if days is None:
        return rng.choice([None, rng.choice(UNPARSEABLE_DATES)])
    d = _day(days)
    if rng.random() < 0.5:
        return d.isoformat() + "T%02d:%02d:00" % (rng.randrange(24), rng.randrange(60))
    if rng.random() < 0.03:
        return " " + d.isoformat()  # strptime rejects padding: too_recent
    return d.isoformat()


def _fields(rng, eligible):
    """Raw (patient, reason, status, days-or-None) for one record."""
    s = SHAPES
    if eligible:
        return (rng.choice(s["patients"]), rng.choice(s["retryable"]),
                rng.choice(s["denied"]), rng.choice(s["old_days"]))
    kind = rng.randrange(5)
    if kind == 0:    # not denied
        return (rng.choice(s["patients"]), rng.choice(s["retryable"]),
                rng.choice(s["other_status"]), rng.choice(s["old_days"]))
    if kind == 1:    # missing patient
        return (rng.choice(s["missing_patient"]), rng.choice(s["retryable"]),
                rng.choice(s["denied"]), rng.choice(s["old_days"]))
    if kind == 2:    # too recent or no usable date
        days = rng.choice(s["recent_days"] + [None])
        return (rng.choice(s["patients"]), rng.choice(s["retryable"]),
                rng.choice(s["denied"]), days)
    reasons = s["non_retryable"] if kind == 3 else s["ambiguous"]
    return (rng.choice(s["patients"]), rng.choice(reasons),
            rng.choice(s["denied"]), rng.choice(s["old_days"]))


class _Tally:
    def __init__(self):
        self.ids = []
        self.counts = {b: 0 for b in BUCKETS}
        self.flagged = 0
        self.by_source = {"alpha": 0, "beta": 0}

    def add(self, source, cid, bucket):
        self.by_source[source] += 1
        if bucket is None:
            self.flagged += 1
            self.ids.append(cid)
        else:
            self.counts[bucket] += 1

    def merge(self, other):
        self.ids += other.ids
        self.flagged += other.flagged
        for k in self.counts:
            self.counts[k] += other.counts[k]
        for k in self.by_source:
            self.by_source[k] += other.by_source[k]

    def expected(self):
        return {
            "total_processed": self.by_source["alpha"] + self.by_source["beta"],
            "by_source": dict(self.by_source),
            "flagged": self.flagged,
            "excluded": dict(self.counts),
            "candidates": len(self.ids),
            "id_sha256": id_hash(self.ids),
        }


def _csv_field(v):
    if v is None:
        return ""
    if any(c in v for c in ',"\n\r') or v != v.strip(" "):
        return '"' + v.replace('"', '""') + '"'
    return v


POOL_SIZE = 1024


def _alpha_shape(rng, eligible, malformed):
    """One alpha row shape: (text after the claim_id field, pad id?, bucket)."""
    if malformed:
        # Short row: the loader fills the missing trailing fields
        # (reason, date, status) with null, so it is not denied.
        patient = rng.choice(SHAPES["patients"])
        tail = "%s,99213" % patient
        return tail, False, model_outcome("alpha", "", patient, None, None, None)[1]
    patient, reason, status, days = _fields(rng, eligible)
    date = _render_date(rng, days)
    code = "99%03d" % rng.randrange(1000)
    tail = ",".join(_csv_field(v) for v in (patient, code, reason, date, status))
    bucket = model_outcome("alpha", "", patient, reason, status, date)[1]
    return tail, rng.random() < 0.02, bucket


def _beta_shape(rng, eligible, malformed):
    """One beta record shape: (JSON text after the id member, bucket)."""
    patient, reason, status, days = _fields(rng, eligible)
    date = _render_date(rng, days)
    rec = {"member": patient, "code": "99%03d" % rng.randrange(1000),
           "error_msg": reason, "date": date, "status": status}
    if malformed:
        # Wrong JSON types: the string-schema reader keeps the raw
        # JSON text, so a numeric member still counts as present.
        rec["code"] = rng.randrange(99000, 99999)
        rec["member"] = rng.randrange(1, 400)
        patient = str(rec["member"])
    if reason is None and rng.random() < 0.5:
        del rec["error_msg"]  # an absent key reads as null too
    body = json.dumps(rec, ensure_ascii=True, separators=(", ", ": "))[1:]
    return body, model_outcome("beta", "", patient, reason, status, date)[1]


def _pools(rng, make):
    """Seeded pools of malformed, flagged and other record shapes."""
    return [[make(rng, False, True) for _ in range(POOL_SIZE)],
            [make(rng, True, False) for _ in range(POOL_SIZE)],
            [make(rng, False, False) for _ in range(POOL_SIZE)]]


def _pick(rng, pools, n, flag_rate, malformed_share):
    """n record shapes from `pools`, mixed at the requested rates."""
    shares = (malformed_share, (1 - malformed_share) * flag_rate,
              (1 - malformed_share) * (1 - flag_rate))
    cum, acc = [], 0.0
    for pool, share in zip(pools, shares):
        for _ in pool:
            acc += share / POOL_SIZE
            cum.append(acc)
    return rng.choices([x for p in pools for x in p], cum_weights=cum, k=n)


def write_alpha(path, rng, pools, prefix, n, flag_rate, malformed_share):
    """Write one alpha CSV of n records; return its _Tally."""
    t = _Tally()
    lines = [",".join(ALPHA_HEADER)]
    for i, (tail, pad, bucket) in enumerate(
            _pick(rng, pools, n, flag_rate, malformed_share)):
        cid = "%s%07d" % (prefix, i)
        lines.append(('" %s",' % cid if pad else cid + ",") + tail)
        t.add("alpha", cid, bucket)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\n".join(lines) + "\n")
    return t


def write_beta(path, rng, pools, prefix, n, flag_rate, malformed_share):
    """Write one beta JSON array of n records; return its _Tally."""
    t = _Tally()
    out = []
    for i, (body, bucket) in enumerate(
            _pick(rng, pools, n, flag_rate, malformed_share)):
        cid = "%s%07d" % (prefix, i)
        out.append('{"id": "%s", %s' % (cid, body))
        t.add("beta", cid, bucket)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("[\n" + ",\n".join(out) + "\n]\n")
    return t


def write_broken_beta(path, rng):
    """An unparseable beta file: the loader counts it as one malformed record."""
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write('[\n{"id": "BX%d", "member": "P00001", "status": "denied",\n' %
                rng.randrange(10**6))
    t = _Tally()
    t.counts["malformed"] += 1
    return t


def _split(total, parts):
    base = total // parts
    return [base + (1 if i < total % parts else 0) for i in range(parts)]


def generate_backfill(out_dir, seed, params=BACKFILL):
    """One batch over several alpha + beta files. Returns the plan dict."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random("backfill-%d" % seed)
    alpha_pools, beta_pools = _pools(rng, _alpha_shape), _pools(rng, _beta_shape)
    p = params
    n_alpha = p["claims"] // 2
    files, total = [], _Tally()
    sizes = _split(n_alpha, p["alpha_files"]) + \
        _split(p["claims"] - n_alpha, p["beta_files"])
    for k, n in enumerate(sizes):
        if k < p["alpha_files"]:
            name = "alpha_%02d.csv" % k
            t = write_alpha(os.path.join(out_dir, name), rng, alpha_pools, "A%02d" % k,
                            n, p["flag_rate"], p["malformed_share"])
        else:
            j = k - p["alpha_files"]
            name = "beta_%02d.json" % j
            t = write_beta(os.path.join(out_dir, name), rng, beta_pools, "B%02d" % j,
                           n, p["flag_rate"], p["malformed_share"])
        files.append(name)
        total.merge(t)
    for j in range(p["broken_beta_files"]):
        name = "beta_broken_%02d.json" % j
        total.merge(write_broken_beta(os.path.join(out_dir, name), rng))
        files.append(name)
    batch = dict(total.expected(), id="backfill", files=files,
                 rows=p["claims"] + p["broken_beta_files"])
    return _finish(out_dir, seed, params, [batch])


def _finish(out_dir, seed, params, batches):
    plan = {"seed": seed, "params": params, "batches": batches}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    plan = generate_backfill(a.out_dir, a.seed)
    for b in plan["batches"]:
        print(b["id"], b["rows"], "rows,", b["flagged"], "flagged")


if __name__ == "__main__":
    main()

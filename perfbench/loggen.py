"""Seeded raw S3 server-access-log generator with per-hour ground truth.

Each hour is delivered the way S3 delivers it: many small objects named
``YYYY-MM-DD-HH-MM-SS-<16 hex>``, one log line per event. Lines follow the
shapes in FIXTURES.md section 1: IAM users, assumed roles and anonymous
(``-``) requesters, quoted fields with spaces, dash sentinels in the numeric
fields. The (bucket, operation) mix is Zipf-skewed, so a few partition
combos hold most rows. About one line in a hundred is hostile (section 1.4):
truncated at a token boundary, blank, with a bad timestamp, an IPv6 address,
non-numeric sizes, or extra trailing tokens.

The ground truth of an hour is derived from what was emitted, not from the
program under test: line count, hostile count, raw bytes, and the number of
rows each (bucket, operation, hour-or-null) partition combo must receive.
The tokenizer expectations are the documented ones: a token is a quoted
string, a bracketed timestamp or a space-free run.
"""

import datetime
import multiprocessing
import os
import random
import re

import numpy as np

BUCKETS = ["prod-assets", "web-logs", "data-lake", "backups", "ml-datasets",
           "build-artifacts", "public-site", "audit-trail"]
OPERATIONS = ["REST.GET.OBJECT", "REST.PUT.OBJECT", "REST.HEAD.OBJECT",
              "REST.GET.BUCKET", "REST.DELETE.OBJECT", "REST.COPY.OBJECT",
              "REST.GET.ACL", "BATCH.DELETE.OBJECT"]
USERS = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
         "ivan", "judy", "mallory", "user-service"]
ROLES = ["DeployRole", "ReadOnlyRole", "EtlRole", "BackupRole", "AuditRole"]
AGENTS = ['"curl/7.68.0"', '"aws-sdk-java/1.11.900 Linux/5.4 OpenJDK_64-Bit"',
          '"S3Console/0.4"', '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)"',
          '"aws-cli/2.13.0 Python/3.11.4"']
STATUSES = [("200", "-")] * 14 + [("206", "-"), ("304", "-"),
            ("403", "AccessDenied"), ("404", "NoSuchKey"),
            ("500", "InternalError"), ("503", "SlowDown")]
SUBNETS = ["10.0.{}.{}", "10.1.{}.{}", "172.16.{}.{}", "192.168.{}.{}",
           "198.51.{}.{}", "203.0.{}.{}"]
HOSTILE_SHAPES = ["truncated", "blank", "bad_ts", "ipv6", "nonnumeric", "extra"]
TOKEN = re.compile(r'(?:"([^"]+)")|(?:\[([^\]]+)\])|([^ ]+)')
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
          "Nov", "Dec"]


def zipf_weights(n, s=1.2):
    w = [1.0 / (r + 1) ** s for r in range(n)]
    total = 0.0
    cum = []
    for x in w:
        total += x
        cum.append(total)
    return cum


class Population:
    """The fixed cast of a seed: requesters, hosts, keys and their skews."""

    def __init__(self, seed, n_buckets, n_operations):
        rng = random.Random(f"population-{seed}")
        self.buckets = BUCKETS[:n_buckets]
        self.operations = OPERATIONS[:n_operations]
        self.owner = {b: "%064x" % rng.getrandbits(256) for b in self.buckets}
        self.requesters = (
            [f"arn:aws:iam::123456789012:user/{u}" for u in USERS]
            + [f"arn:aws:sts::123456789012:assumed-role/{r}/i-{rng.getrandbits(36):09x}"
               for r in ROLES for _ in range(3)]
            + ["-"] * 3)
        rng.shuffle(self.requesters)
        self.ips = [rng.choice(SUBNETS).format(rng.randrange(256), rng.randrange(1, 255))
                    for _ in range(400)]
        self.keys = {b: [f"{rng.choice(['img', 'data', 'logs', 'tmp'])}/"
                         f"{rng.getrandbits(40):010x}.{rng.choice(['jpg', 'csv', 'gz', 'json'])}"
                         for _ in range(300)] for b in self.buckets}
        bucket_order = self.buckets[:]
        rng.shuffle(bucket_order)
        op_order = self.operations[:]
        rng.shuffle(op_order)
        self.combos = [(b, o) for b in bucket_order for o in op_order]
        # Zipf over the bucket x operation combos: the head combo holds a
        # large share of an hour, the tail combos a handful of rows each
        self.combo_cum = zipf_weights(len(self.combos), 1.1)
        self.req_cum = zipf_weights(len(self.requesters), 0.9)
        self.ip_cum = zipf_weights(len(self.ips), 0.8)
        self.key_cum = zipf_weights(300, 1.0)


def hour_start(base, k):
    return base + datetime.timedelta(hours=k)


def hour_name(t):
    return t.strftime("%Y-%m-%d-%H")


def clf_time(t):
    return f"{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:{t:%H:%M:%S} +0000"


def _pick(rng, cum, n):
    """`n` Zipf draws: indexes into the list whose cumulative weights are `cum`."""
    return np.searchsorted(np.asarray(cum), rng.random(n) * cum[-1], side="right")


def _hex(rng, n, digits, upper):
    """`n` random hex strings of `digits` (even) digits."""
    h = rng.bytes(n * digits // 2).hex()
    if upper:
        h = h.upper()
    return [h[i:i + digits] for i in range(0, n * digits, digits)]


def make_hostile(rng, fields, shape):
    if shape == "truncated":
        return " ".join(fields[:rng.randrange(1, 24)])
    if shape == "blank":
        return ""
    if shape == "bad_ts":
        fields[2] = "[31/Foo/2021:27:61:99 +0000]"
    elif shape == "ipv6":
        fields[3] = "2001:db8::%x" % rng.randrange(1, 65535)
    elif shape == "nonnumeric":
        fields[11] = "12abc"
        fields[12] = "0x1F"
    elif shape == "extra":
        fields = fields + ["-", "Yes", "arn:aws:s3:us-east-1:123456789012:accesspoint/ap1"]
    return " ".join(fields)


def expected_key(line, hour_key):
    """Partition combo a line must land in: (bucket, operation, hour or None)."""
    toks = [a or b or c for a, b, c in TOKEN.findall(line)]
    bucket = toks[1] if len(toks) > 1 else None
    op = toks[6] if len(toks) > 6 else None
    ts_ok = len(toks) > 2 and not toks[2].startswith("31/Foo")
    return bucket, op, hour_key if ts_ok else None


def generate_hour(seed, pop, t, lines_per_hour, files_per_hour, hostile_frac, src):
    """Write one hour of objects under `src`; return its ground truth. The
    random draws of a line's fields are made for the whole hour at once."""
    n = lines_per_hour
    stream = random.Random(f"hour-{seed}-{hour_name(t)}")
    rng = np.random.default_rng(stream.getrandbits(128))
    hour_key = (t.year, t.month, t.day, t.hour)
    times = [f"[{clf_time(t + datetime.timedelta(seconds=k))}]" for k in range(3600)]
    combo = _pick(rng, pop.combo_cum, n).tolist()
    req = _pick(rng, pop.req_cum, n).tolist()
    ip = _pick(rng, pop.ip_cum, n).tolist()
    key = _pick(rng, pop.key_cum, n).tolist()
    status = rng.integers(0, len(STATUSES), n).tolist()
    size = rng.integers(100, 5_000_000, n)
    sent = (rng.random(n) * (size + 1)).astype(np.int64).tolist()
    size = size.tolist()
    no_objsize = (rng.random(n) < 0.1).tolist()
    total = rng.integers(1, 900, n).tolist()
    turn = rng.integers(1, 200, n).tolist()
    no_turn = (rng.random(n) < 0.2).tolist()
    no_ref = (rng.random(n) < 0.7).tolist()
    agent = rng.integers(0, len(AGENTS), n).tolist()
    xid = rng.integers(0, 1000, n).tolist()
    second = rng.integers(0, 3600, n).tolist()
    request_id = _hex(rng, n, 16, True)
    host_id = _hex(rng, n, 40, False)
    hostile = (rng.random(n) < hostile_frac).tolist()
    file_of = rng.integers(0, files_per_hour, n).tolist()
    tally = {}
    per_file = [[] for _ in range(files_per_hour)]
    n_hostile = 0
    for i in range(n):
        bucket, op = pop.combos[combo[i]]
        k = pop.keys[bucket][key[i]]
        verb = op.split(".")[1]
        code, err = STATUSES[status[i]]
        fields = [pop.owner[bucket], bucket, times[second[i]], pop.ips[ip[i]],
                  pop.requesters[req[i]], request_id[i], op, k,
                  f'"{verb} /{bucket}/{k}?x-id={xid[i]} HTTP/1.1"', code, err,
                  "-" if verb in ("PUT", "DELETE", "HEAD") else str(sent[i]),
                  "-" if verb == "GET" and no_objsize[i] else str(size[i]),
                  str(total[i]), "-" if no_turn[i] else str(turn[i]),
                  '"-"' if no_ref[i] else f'"https://www.example.com/{k}"',
                  AGENTS[agent[i]], "-", host_id[i] + "=", "SigV4",
                  "ECDHE-RSA-AES128-GCM-SHA256", "AuthHeader",
                  f"{bucket}.s3.us-east-1.amazonaws.com", "TLSv1.2"]
        if hostile[i]:
            n_hostile += 1
            line = make_hostile(stream, fields, stream.choice(HOSTILE_SHAPES))
            combo_key = expected_key(line, hour_key)
        else:
            line = " ".join(fields)
            combo_key = (bucket, op, hour_key)
        tally[combo_key] = tally.get(combo_key, 0) + 1
        per_file[file_of[i]].append(line)
    raw_bytes = 0
    names = []
    for i, lines in enumerate(per_file):
        delivered = t + datetime.timedelta(seconds=(i * 3600) // files_per_hour
                                           + stream.randrange(3600 // files_per_hour))
        name = f"{delivered:%Y-%m-%d-%H-%M-%S}-{stream.getrandbits(64):016X}"
        data = ("\n".join(lines) + "\n").encode() if lines else b""
        with open(os.path.join(src, name), "wb") as f:
            f.write(data)
        raw_bytes += len(data)
        names.append(name)
    return {
        "hour": hour_name(t),
        "lines": lines_per_hour,
        "hostile": n_hostile,
        "files": len(names),
        "raw_bytes": raw_bytes,
        "tally": [[b, o, list(h) if h else None, c]
                  for (b, o, h), c in sorted(tally.items(), key=repr)],
    }


BASE = datetime.datetime(2021, 7, 18, 0)


def _hour_job(args):
    seed, n_buckets, n_operations, k, lines, files, hostile_frac, src = args
    pop = Population(seed, n_buckets, n_operations)
    return generate_hour(seed, pop, hour_start(BASE, k), lines, files, hostile_frac, src)


def generate(seed, src, hours, lines_per_hour, files_per_hour, n_buckets, n_operations,
             first_hour=0, hostile_frac=0.01, workers=1):
    """Generate `hours` consecutive hours from BASE + `first_hour` hours;
    return their truths. Each hour has its own seeded stream, so `workers`
    does not change them."""
    os.makedirs(src, exist_ok=True)
    jobs = [(seed, n_buckets, n_operations, first_hour + k, lines_per_hour, files_per_hour,
             hostile_frac, src) for k in range(hours)]
    if workers <= 1:
        return [_hour_job(j) for j in jobs]
    pool = multiprocessing.Pool(workers)
    try:
        return pool.map(_hour_job, jobs)
    finally:
        pool.close()
        pool.join()


def population_facts(seed, n_buckets, n_operations):
    """The values query parameters are drawn from."""
    pop = Population(seed, n_buckets, n_operations)
    return {"buckets": pop.buckets, "operations": pop.operations,
            "requesters": pop.requesters, "ips": pop.ips}


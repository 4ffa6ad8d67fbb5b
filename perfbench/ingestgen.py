"""Seeded landing-zone traffic for the ``ingest_search`` workload, and the
reference model that says what bronze, quarantine and every search answer
must hold.

Each round lands request and response JSON-lines files the way the audit
middleware writes them (FIXTURES.md A.2/A.3), with injected faults:

* corrupt lines (truncated JSON) and records without ``transactionId`` —
  both must end in quarantine;
* redeliveries — a valid record from an earlier round lands again, and
  bronze must hold it once per delivery (at-least-once, no dedup);
* late responses — a response lands one to three rounds after its
  request; silver must pick it up once it lands.

Searches draw filter dicts over ``app_id``/``action``/``workflow_id``/
``status_code`` from a Zipf mix whose skew varies per seed. The cache is
flushed whenever a round lands, so a hit needs the same filters twice
within one round: each round draws distinct filters and then repeats one
of them, which pins the hit ratio at one in ``searches_per_round`` (20%),
well away from one half, so the median search stays on the miss path and
every round does the same number of misses.

Everything is a pure function of the seed; ``Model`` replays what landed
to compute expected answers without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field

APPS = [f"app{i}" for i in range(8)]
ACTIONS = ["create", "read", "update", "delete", "list"]
WORKFLOWS = [f"wf{i}" for i in range(20)]
STATUSES = [200, 200, 200, 201, 400, 404, 500]
METHODS = {"create": "POST", "read": "GET", "update": "PUT",
           "delete": "DELETE", "list": "GET"}
FILTER_KEYS = ("app_id", "action", "workflow_id", "status_code")
PROJECT = ["transaction_id", "app_id", "workflow_id", "action",
           "status_code", "timestamp"]
TOP_K = 100
EPOCH = dt.datetime(2024, 3, 1)


@dataclass(frozen=True)
class Mix:
    """Per-seed traffic parameters (drawn in narrow bands so every seed
    does about the same amount of work)."""

    files_per_round: int
    records_per_file: int
    corrupt_share: float
    missing_txn_share: float
    redelivery_share: float
    late_share: float
    zipf_s: float
    n_filters: int
    searches_per_round: int

    @classmethod
    def for_seed(cls, seed: int) -> Mix:
        rng = random.Random(f"mix-{seed}")
        return cls(
            files_per_round=4,
            records_per_file=rng.randint(190, 210),
            corrupt_share=rng.uniform(0.01, 0.03),
            missing_txn_share=rng.uniform(0.005, 0.015),
            redelivery_share=rng.uniform(0.01, 0.03),
            late_share=rng.uniform(0.1, 0.3),
            zipf_s=rng.uniform(0.9, 1.2),
            n_filters=40,
            searches_per_round=5,
        )


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _filters(rng: random.Random, n: int) -> list[dict]:
    """``n`` distinct filter dicts of one or two keys, most popular first."""
    values = {"app_id": APPS, "action": ACTIONS, "workflow_id": WORKFLOWS,
              "status_code": sorted(set(STATUSES))}
    seen, out = set(), []
    while len(out) < n:
        keys = rng.sample(FILTER_KEYS, rng.choice((1, 1, 2)))
        f = {k: rng.choice(values[k]) for k in sorted(keys)}
        key = json.dumps(f, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append(f)
    return out


@dataclass
class Round:
    """What one round lands, as JSON lines per file, plus the parsed
    valid records for the model."""

    index: int
    request_files: list[list[str]]
    response_files: list[list[str]]
    requests: list[dict]
    responses: list[dict]
    bad_requests: int
    bad_responses: int
    searches: list[dict]


@dataclass
class Traffic:
    """The seeded generator. ``next_round()`` is deterministic in
    (seed, round index)."""

    seed: int
    mix: Mix = field(init=False)
    filters: list[dict] = field(init=False)
    _rng: random.Random = field(init=False)
    _weights: list[float] = field(init=False)
    _history: list[str] = field(default_factory=list)
    _pending: dict[int, list[dict]] = field(default_factory=dict)
    _rounds: int = 0

    def __post_init__(self):
        self.mix = Mix.for_seed(self.seed)
        self._rng = random.Random(f"traffic-{self.seed}")
        self.filters = _filters(self._rng, self.mix.n_filters)
        self._weights = [1.0 / (k + 1) ** self.mix.zipf_s
                         for k in range(len(self.filters))]

    def _bad_line(self, base: dict, corrupt: bool) -> str:
        """A truncated (corrupt) line, or ``base`` without its id."""
        if corrupt:
            return json.dumps(base)[: self._rng.randint(5, 30)]
        return json.dumps({k: v for k, v in base.items()
                           if k != "transactionId"})

    def _split(self, lines: list[str]) -> list[list[str]]:
        self._rng.shuffle(lines)
        n = self.mix.files_per_round
        return [lines[i::n] for i in range(n)]

    def next_round(self) -> Round:
        r, m, rng = self._rounds, self.mix, self._rng
        self._rounds += 1
        n = m.files_per_round * m.records_per_file
        start = EPOCH + dt.timedelta(hours=r)
        req_lines, requests, bad_req = [], [], 0
        resp_lines, responses, bad_resp = [], [], 0
        for i in range(n):
            action = rng.choice(ACTIONS)
            t = start + dt.timedelta(milliseconds=rng.randrange(3_600_000))
            rec = {"transactionId": f"t{r:05d}-{i:05d}", "timestamp": _iso(t),
                   "method": METHODS[action], "url": f"/api/{action}",
                   "headers": {"content-type": "application/json"},
                   "body": json.dumps({"n": i}), "query": {}, "files": [],
                   "appId": rng.choice(APPS),
                   "workflowId": rng.choice(WORKFLOWS), "action": action}
            u = rng.random()
            if u < m.corrupt_share + m.missing_txn_share:
                req_lines.append(self._bad_line(rec, u < m.corrupt_share))
                bad_req += 1
                continue
            line = json.dumps(rec)
            req_lines.append(line)
            self._history.append(line)
            requests.append(rec)
            resp_t = t + dt.timedelta(milliseconds=rng.randrange(1, 5000))
            resp = {"transactionId": rec["transactionId"],
                    "timestamp": _iso(resp_t),
                    "statusCode": rng.choice(STATUSES),
                    "headers": {}, "body": "{}", "appId": rec["appId"],
                    "workflowId": rec["workflowId"], "action": action}
            delay = rng.randint(1, 3) if rng.random() < m.late_share else 0
            self._pending.setdefault(r + delay, []).append(resp)
        # redeliveries of earlier valid requests (same bytes, new file)
        earlier = len(self._history) - len(requests)
        for _ in range(int(n * m.redelivery_share) if earlier else 0):
            line = self._history[rng.randrange(earlier)]
            req_lines.append(line)
            requests.append(json.loads(line))
        for resp in self._pending.pop(r, []):
            resp_lines.append(json.dumps(resp))
            responses.append(resp)
            if rng.random() < m.redelivery_share:
                resp_lines.append(json.dumps(resp))
                responses.append(resp)
        bad = {"transactionId": f"t{r:05d}-bad", "timestamp": _iso(start),
               "statusCode": 200}
        for j in range(int(len(resp_lines) * m.corrupt_share) + 1):
            resp_lines.append(self._bad_line(bad, j % 2 == 0))
            bad_resp += 1
        return Round(r, self._split(req_lines), self._split(resp_lines),
                     requests, responses, bad_req, bad_resp,
                     self._searches())

    def _searches(self) -> list[dict]:
        """Distinct Zipf draws, then one repeat of an earlier one: every
        round has exactly one cache hit, whatever the skew."""
        picked: list[int] = []
        while len(picked) < self.mix.searches_per_round - 1:
            i = self._rng.choices(range(len(self.filters)), self._weights)[0]
            if i not in picked:
                picked.append(i)
        picked.append(self._rng.choice(picked))
        return [dict(self.filters[i]) for i in picked]


def _ts(iso: str) -> dt.datetime:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")


@dataclass
class Model:
    """Replays landed rounds; knows bronze/quarantine counts and the
    expected top-k answer for any filter at the current state."""

    requests: list[dict] = field(default_factory=list)
    responses: dict[str, tuple] = field(default_factory=dict)
    request_deliveries: dict[tuple, int] = field(default_factory=dict)
    response_deliveries: dict[tuple, int] = field(default_factory=dict)
    bad_requests: int = 0
    bad_responses: int = 0

    def land(self, rnd: Round) -> None:
        for rec in rnd.requests:
            self.requests.append(rec)
            k = (rec["transactionId"], rec["timestamp"])
            self.request_deliveries[k] = self.request_deliveries.get(k, 0) + 1
        for resp in rnd.responses:
            k = (resp["transactionId"], resp["timestamp"])
            self.response_deliveries[k] = self.response_deliveries.get(k, 0) + 1
            ts = _ts(resp["timestamp"])
            s3 = (f"audit/{ts:%Y-%m-%d}/{resp['transactionId']}"
                  "/response.json")
            cur = self.responses.get(resp["transactionId"])
            cand = (ts, s3, resp["statusCode"])
            if cur is None or cand[:2] > cur[:2]:
                self.responses[resp["transactionId"]] = cand
        self.bad_requests += rnd.bad_requests
        self.bad_responses += rnd.bad_responses

    def search(self, filters: dict) -> list[tuple]:
        out = []
        for rec in self.requests:
            resp = self.responses.get(rec["transactionId"])
            row = {"transaction_id": rec["transactionId"],
                   "app_id": rec["appId"], "workflow_id": rec["workflowId"],
                   "action": rec["action"],
                   "status_code": resp[2] if resp else None,
                   "timestamp": _ts(rec["timestamp"])}
            if all(row[k] == v for k, v in filters.items()):
                out.append(tuple(row[c] for c in PROJECT))
        ts_i, id_i = PROJECT.index("timestamp"), PROJECT.index("transaction_id")
        out.sort(key=lambda t: (t[ts_i], t[id_i]), reverse=True)
        return out[:TOP_K]

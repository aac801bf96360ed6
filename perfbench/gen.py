"""Seeded dCache billing input generator and its own tally.

Everything the workloads feed the pipeline comes from here, and so does
everything the output checks compare against: per-route, per-partition
row counts, the billing query answers before and after the correction
feed, and the ``events`` stand-in table the catalog's billing queries
read. The same seed gives byte-identical files.

Record shapes follow FIXTURES.md section A (four msgTypes, five
including ``restore``). About 1% of records carry an unknown msgType, a
few lines are corrupt JSON and a few dates are malformed (non-canonical,
so their partition key is NULL). Record dates are skewed over 4 days, so
late records land in old partitions. ``pnfsid`` and ``session`` are
unique per record, so merge keys and point lookups are real.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import os
import random
from collections import Counter, defaultdict

DAYS = [f"2024-03-{d:02d}" for d in range(1, 5)]
# later days get more records; old days still get late arrivals
DAY_WEIGHTS = [1, 2, 4, 8]
MSG_TYPES = ["transfer", "request", "store", "restore", "remove"]
MSG_CUM = list(itertools.accumulate([40, 25, 10, 5, 19]))
ROUTE_OF = {
    "transfer": "transfers",
    "request": "requests",
    "store": "storage",
    "restore": "storage",
    "remove": "removes",
}
UNKNOWN_TYPES = ["pin", "flush"]
OWNERS = [f"user{i:02d}" for i in range(20)]
CELLS = [f"pool-{i:02d}" for i in range(16)]
P_UNKNOWN = 0.01
P_CORRUPT = 0.001
P_BAD_DATE = 0.002
# the name a NULL partition key gets, on both sides of every check
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


class Tally:
    """What the generated inputs must produce, computed on the generator
    side only."""

    def __init__(self):
        self.rows: Counter = Counter()  # (route, partition) -> rows
        self.transfers: dict[str, dict] = {}  # pnfsid -> record
        self.records: list[dict] = []  # parsed-valid records, events source

    def add(self, route: str, partition: str, rec: dict | None) -> None:
        self.rows[(route, partition)] += 1
        if rec is None:
            return
        self.records.append(rec)
        if route == "transfers":
            self.transfers[rec["pnfsid"]] = rec


def partition_of(date: str) -> str:
    """The partition key parse.partition_date_col derives: the date's day
    when it prints back canonically, else the default partition."""
    day = date[:10]
    try:
        ok = dt.date.fromisoformat(day).isoformat() == day
    except ValueError:
        ok = False
    return day if ok else DEFAULT_PARTITION


class BillingGenerator:
    """One seeded stream of billing records, numbered from 0."""

    def __init__(self, seed: int, days: int = len(DAYS)):
        self.seed = seed
        self.days = DAYS[-days:]
        self.day_cum = list(itertools.accumulate(DAY_WEIGHTS[-days:]))
        self.rng = random.Random(seed)
        self.next_id = 0
        self.tally = Tally()

    def _record(self) -> tuple[str, str, str, dict | None]:
        """Return (line, route, partition, record-or-None)."""
        u = self.rng.random

        def pick(seq):
            return seq[int(u() * len(seq))]

        def num(lo, hi):
            return lo + int(u() * (hi - lo))

        i = self.next_id
        self.next_id += 1
        if u() < P_CORRUPT:
            return f'{{"msgType": "transfer", "date": broken-{i}', "rejects", DEFAULT_PARTITION, None
        if u() < P_UNKNOWN:
            msg_type = pick(UNKNOWN_TYPES)
        else:
            msg_type = MSG_TYPES[bisect.bisect(MSG_CUM, u() * MSG_CUM[-1])]
        day = self.days[bisect.bisect(self.day_cum, u() * self.day_cum[-1])]
        secs = num(0, 86400)
        stamp = f"T{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}.000+0000"
        if u() < P_BAD_DATE:
            date = f"2024-3-{int(day[-2:])}{stamp}"  # not canonical
            partition = DEFAULT_PARTITION
        else:
            date = day + stamp
            partition = day
        rec = {
            "date": date,
            "msgType": msg_type,
            "cellName": pick(CELLS),
            "cellType": "pool",
            "cellDomain": "dom-a",
            "session": f"door:{self.seed}:{i}",
            "pnfsid": f"{self.seed:06X}{i:010X}",
            "billingPath": f"/data/d{i % 97}/f{i}",
            "fileSize": float(num(1, 1 << 30)),
            "queuingTime": num(0, 1000),
            "storageInfo": "tape@osm",
            "status": {"msg": "ok", "code": 0 if u() < 0.95 else 666},
        }
        if msg_type == "transfer":
            rec.update(
                subject="user:1000",
                initiator="door:Door",
                transferPath=rec["billingPath"],
                isP2p=u() < 0.1,
                transferTime=float(num(1, 100_000)),
                transferSize=float(num(1, 1 << 30)),
                localEndpoint="ep1",
                protocolInfo={"protocol": "Xrootd", "port": 1094, "host": "10.0.0.1"},
                isWrite=pick(("read", "write")),
            )
        elif msg_type in ("request", "remove"):
            rec.update(
                owner=pick(OWNERS),
                clientChain="10.0.0.2",
                mappedGID=100,
                mappedUID=num(1000, 1050),
                transferPath=rec["billingPath"],
                sessionDuration=num(0, 600),
                client="10.0.0.2",
            )
            if msg_type == "remove":
                rec["transaction"] = f"txn-{i}"
        elif msg_type in ("store", "restore"):
            rec.update(
                transferTime=float(num(1, 100_000)),
                locations=f"osm://osm/{i}",
                transaction=f"txn-{i}",
            )
        route = ROUTE_OF.get(msg_type, "rejects")
        return json.dumps(rec), route, partition, rec

    def write_file(self, path: str, n_rows: int) -> None:
        lines = []
        for _ in range(n_rows):
            line, route, partition, rec = self._record()
            self.tally.add(route, partition, rec)
            lines.append(line)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")

    # ---- correction feed ---------------------------------------------

    def corrections(self, n: int) -> dict[str, dict]:
        """Pick ``n`` transfers with a canonical date and return corrected
        copies keyed by pnfsid (new fileSize and transferSize)."""
        rng = random.Random(self.seed * 7919 + 1)
        keys = sorted(
            k
            for k, r in self.tally.transfers.items()
            if partition_of(r["date"]) != DEFAULT_PARTITION
        )
        out = {}
        for k in rng.sample(keys, min(n, len(keys))):
            rec = dict(self.tally.transfers[k])
            rec["fileSize"] = rec["fileSize"] + float(rng.randrange(1, 1 << 20))
            rec["transferSize"] = float(rng.randrange(1, 1 << 30))
            out[k] = rec
        return out

    def lookup_keys(self, n: int) -> list[str]:
        rng = random.Random(self.seed * 7919 + 2)
        return rng.sample(sorted(self.tally.transfers), min(n, len(self.tally.transfers)))


# the transfers route table's columns and types, as the merge CLI's
# parquet update batch carries them
TRANSFER_COLUMNS = [
    ("date", "string"), ("msgType", "string"), ("cellName", "string"),
    ("session", "string"), ("subject", "string"), ("initiator", "string"),
    ("transferPath", "string"), ("queuingTime", "int64"), ("cellDomain", "string"),
    ("isP2p", "bool_"), ("transferTime", "float64"), ("storageInfo", "string"),
    ("transferSize", "float64"), ("localEndpoint", "string"),
    ("protocolInfo_protocol", "string"), ("protocolInfo_port", "int32"),
    ("protocolInfo_host", "string"), ("cellType", "string"), ("fileSize", "float64"),
    ("pnfsid", "string"), ("billingPath", "string"), ("isWrite", "string"),
    ("status_msg", "string"), ("status_code", "int32"), ("partition_date", "string"),
]


def write_updates(path: str, corrected: dict[str, dict]) -> None:
    """Write the correction feed as a parquet batch of transfers rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def flat(rec: dict, col: str):
        if col == "partition_date":
            return partition_of(rec["date"])
        for nested in ("status", "protocolInfo"):
            if col.startswith(nested + "_"):
                return rec[nested][col[len(nested) + 1:]]
        return rec.get(col)

    recs = [corrected[k] for k in sorted(corrected)]
    table = pa.table(
        {c: pa.array([flat(r, c) for r in recs], getattr(pa, t)()) for c, t in TRANSFER_COLUMNS}
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ---- expected answers of the billing query set -------------------------


def expected_billing(tally: Tally, corrected: dict[str, dict] | None, lookups: list[str]) -> dict:
    """The billing query set's answers (perfbench.queries.BILLING) as
    generator-side rows, with the correction feed applied when given."""
    transfers = dict(tally.transfers)
    for k, rec in (corrected or {}).items():
        transfers[k] = rec
    daily: dict = defaultdict(lambda: [0, 0.0, 0.0])
    for rec in transfers.values():
        d = daily[partition_of(rec["date"])]
        d[0] += 1
        d[1] += rec["fileSize"]
        d[2] += rec["transferSize"]
    owners: dict = defaultdict(lambda: [0, 0.0])
    storage: dict = defaultdict(lambda: [0, 0.0])
    for rec in tally.records:
        route = ROUTE_OF.get(rec["msgType"])
        if route == "requests":
            o = owners[rec["owner"]]
            o[0] += 1
            o[1] += rec["fileSize"]
        elif route == "storage":
            s = storage[(rec["msgType"], partition_of(rec["date"]))]
            s[0] += 1
            s[1] += rec["fileSize"]
    return {
        "transfers_daily": sorted(
            (p, n, fs, ts) for p, (n, fs, ts) in daily.items()
        ),
        "requests_by_owner": sorted((o, n, fs) for o, (n, fs) in owners.items()),
        "storage_by_type_day": sorted(
            (t, p, n, fs) for (t, p), (n, fs) in storage.items()
        ),
        "rejects_daily": sorted((p, n) for (r, p), n in tally.rows.items() if r == "rejects"),
        "transfer_lookup": sorted(
            (k, transfers[k]["fileSize"], partition_of(transfers[k]["date"]))
            for k in lookups
        ),
    }


# ---- events stand-in for the catalog's billing queries -----------------


def write_events(path: str, tally: Tally, seed: int, limit: int | None = None) -> int:
    """Write the parsed-valid records (the first ``limit`` of them, when
    given) as the catalog's ``events`` table (schema of FIXTURES.md
    section B): event_type is the msgType, value is the file size in MB
    to the cent, props carries a small int ``k``. Records with a
    malformed date are left out (no event time)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 7919 + 3)
    cols: dict[str, list] = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for rec in tally.records[:limit]:
        if partition_of(rec["date"]) == DEFAULT_PARTITION:
            continue
        cols["event_id"].append(int(rec["pnfsid"][6:], 16))
        cols["ts"].append(dt.datetime.strptime(rec["date"][:19], "%Y-%m-%dT%H:%M:%S"))
        cols["user_id"].append(rng.randrange(200))
        cols["event_type"].append(rec["msgType"])
        cols["value"].append(round(rec["fileSize"] / 1e6, 2))
        cols["props"].append(json.dumps({"k": rng.randrange(100)}))
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows

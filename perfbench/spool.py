"""The benchmark's Kinesis client, injected through the sink's
``client_factory`` seam, and the readers of what it leaves behind.

Each record goes to ``<spool>/<uuid>.json`` in the format of the engine's
``FileKinesisClient``, so ``spool_items`` reads it back. Each put call
appends one line to ``<spool>.calls/<pid>.jsonl`` with its wall span and
the files it acknowledged: that log is where delivery latency and the
sink's client-side counters come from. Both clients run inside Spark's
Python workers, so they hold only a path and are re-created per partition.
"""

from __future__ import annotations

import json
import os
import time
import uuid


class SpoolClient:
    """Acknowledges every record once it is on disk."""

    def __init__(self, spool_dir: str) -> None:
        self.spool_dir = spool_dir
        self.calls_dir = spool_dir + ".calls"

    def _spool(self, record: dict) -> tuple[str, int] | None:
        name = f"{uuid.uuid4().hex}.json"
        data = record["Data"]
        with open(os.path.join(self.spool_dir, name), "w", encoding="utf-8") as f:
            json.dump({**record, "Data": data.decode("utf-8")}, f, sort_keys=True)
        return name, len(data)

    def _log(self, start: float, written: list, keys: list[str]) -> None:
        os.makedirs(self.calls_dir, exist_ok=True)
        line = {
            "start": start,
            "end": time.time(),
            "keys": keys,
            "files": [w[0] for w in written],
            "bytes": [w[1] for w in written],
        }
        with open(os.path.join(self.calls_dir, f"{os.getpid()}.jsonl"), "a", encoding="utf-8") as f:
            f.write(json.dumps(line) + "\n")

    def put_record(self, **record) -> dict:
        start = time.time()
        os.makedirs(self.spool_dir, exist_ok=True)
        written = [w for w in [self._spool(record)] if w]
        self._log(start, written, [record["PartitionKey"]])
        return {"SequenceNumber": "0", "ShardId": "shardId-0"}

    def put_records(self, Records: list[dict], **stream) -> dict:
        start = time.time()
        os.makedirs(self.spool_dir, exist_ok=True)
        written = [w for w in (self._spool({**r, **stream}) for r in Records) if w]
        self._log(start, written, [r["PartitionKey"] for r in Records])
        out = [{"SequenceNumber": "0", "ShardId": "shardId-0"} for _ in Records]
        return {"FailedRecordCount": 0, "Records": out}


class LossySpoolClient(SpoolClient):
    """Acknowledges every record but silently drops each ``every``-th one,
    the fault the benchmark's output checks must catch."""

    every = 7

    def __init__(self, spool_dir: str) -> None:
        super().__init__(spool_dir)
        self._n = 0

    def _spool(self, record: dict) -> tuple[str, int] | None:
        self._n += 1
        if self._n % self.every == 0:
            return None
        return super()._spool(record)


class LeakySpoolClient(SpoolClient):
    """Adds to every record a copy of its first event with a null
    ``event_type``: an invalid event that got past the envelope, the fault
    the wire check must catch as an extra row."""

    def _spool(self, record: dict) -> tuple[str, int] | None:
        items = json.loads(record["Data"])
        items.append({**items[0], "event_type": None})
        return super()._spool({**record, "Data": json.dumps(items).encode("utf-8")})


def read_calls(spool_dir: str) -> list[dict]:
    calls_dir = spool_dir + ".calls"
    if not os.path.isdir(calls_dir):
        return []
    out = []
    for name in sorted(os.listdir(calls_dir)):
        with open(os.path.join(calls_dir, name), encoding="utf-8") as f:
            out.extend(json.loads(line) for line in f)
    return out


def read_items(spool_dir: str, name: str) -> list[dict]:
    """The envelope objects of one spooled record."""
    with open(os.path.join(spool_dir, name), encoding="utf-8") as f:
        return json.loads(json.load(f)["Data"])


def sink_counters(calls: list[dict], budget: int) -> dict:
    """Client-side sink counters over one spool's call log. The sink gives
    every record a fresh partition key, so ``retries`` counts submissions
    of a key beyond its first, and ``failed_records`` the keys submitted
    but never spooled."""
    records = sum(len(c["files"]) for c in calls)
    nbytes = sum(sum(c["bytes"]) for c in calls)
    submitted = [k for c in calls for k in c["keys"]]
    return {
        "put_calls": len(calls),
        "records": records,
        "bytes": nbytes,
        "client_s": sum(c["end"] - c["start"] for c in calls),
        "retries": len(submitted) - len(set(submitted)),
        "failed_records": len(set(submitted)) - records,
        "fill_ratio": nbytes / records / budget if records else 0.0,
    }

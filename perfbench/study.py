"""Seeded synthetic study: zip archives, manifest, archive map, schema store
and dataset registry, plus the counts every output check compares against.

The archives are modelled on the reference's one sized archive (a 280 KB zip
of JSON members). Each holds five members:

- ``metadata.json``: the archive manifest. Its ``files`` list names a
  ``jsonSchema`` for ``motion.json`` (a self-referenced schema).
- ``taskData.json``: ``steps`` is ``array<struct<..., answers:
  array<string>>>``, so relationalize emits two child levels.
- ``weather.json``: a nested ``wind`` struct.
- ``motion.json``: a list body whose length is spread so member sizes reach
  the reference archive's size.
- ``info.json``: no schema and no dataset, so routing drops it.

About 2% of records (``round(n * 0.02)`` per batch of n) carry a real
validation error and are quarantined.
Android clients carry the whitelisted errors, which suppression removes.
A batch may include corrupt zips, which quarantine as one marker row each.

Nothing here imports Spark: the generator writes files and returns plain
rows, so the program under test sees only generated inputs.
"""

from __future__ import annotations

import io
import json
import os
import random
import zipfile
from collections import Counter
from dataclasses import dataclass, field

APP_ID = "mobile-toolbox"
ASSESSMENTS = ("spelling", "vocabulary", "flanker")
#: upload days span 2024-03-01 .. 2024-03-28
UPLOAD_DAYS = 28
INVALID_SHARE = 0.02
ANDROID_SHARE = 0.3
#: the reference archive's size; the largest motion member approaches it
MAX_MOTION_BYTES = 280_000
MOTION_ELEMENT_BYTES = 70  # serialized size of one motion element, roughly
SENSORS = ("accelerometer", "gyro", "magnetometer", "attitude", "gravity")

_URL = "https://schemas.example.org/mtb"
META_URL = f"{_URL}/ArchiveMetadata.json"
TASK_URL = f"{_URL}/TaskData.json"
WEATHER_URL = f"{_URL}/WeatherResult.json"
MOTION_URL = f"{_URL}/MotionRecord.json"

SCHEMA_STORE: dict[str, dict] = {
    META_URL: {
        "$id": "schemas/v1/ArchiveMetadata",
        "type": "object",
        "required": ["appName", "files"],
        "properties": {
            "appName": {"type": "string"},
            "appVersion": {"type": "string"},
            "taskIdentifier": {"type": "string"},
            "deviceInfo": {
                "type": "object",
                "properties": {
                    "deviceName": {"type": "string"},
                    "osName": {"type": "string"},
                    "osVersion": {"type": "string"},
                },
            },
            "files": {
                "type": "array",
                "items": {
                    "type": "object",
                    "required": ["filename"],
                    "properties": {
                        "filename": {"type": "string"},
                        "timestamp": {"type": "string"},
                        "contentType": {"type": "string"},
                        "jsonSchema": {"type": "string"},
                    },
                },
            },
        },
    },
    TASK_URL: {
        "$id": "schemas/v1/TaskData",
        "type": "object",
        "required": ["taskRunUUID", "steps"],
        "additionalProperties": False,
        "properties": {
            "taskRunUUID": {"type": "string"},
            "startDate": {"type": "string"},
            "endDate": {"type": "string"},
            "steps": {
                "type": "array",
                "items": {
                    "type": "object",
                    "required": ["identifier"],
                    "properties": {
                        "identifier": {"type": "string"},
                        "startDate": {"type": "string"},
                        "endDate": {"type": "string"},
                        "answers": {"type": "array", "items": {"type": "string"}},
                    },
                },
            },
        },
    },
    WEATHER_URL: {
        "$id": "schemas/v1/WeatherResult",
        "type": "object",
        "required": ["temperature", "type"],
        "properties": {
            "type": {"type": "string"},
            "temperature": {"type": "number"},
            "humidity": {"type": "number"},
            "wind": {
                "type": "object",
                "properties": {
                    "speed": {"type": "number"},
                    "direction": {"type": "number"},
                },
            },
        },
    },
    MOTION_URL: {
        "$id": "schemas/v1/MotionRecord",
        "type": "array",
        "items": {
            "type": "object",
            "required": ["sensor", "t"],
            "properties": {
                "sensor": {"enum": list(SENSORS)},
                "t": {"type": "number"},
                "x": {"type": "number"},
                "y": {"type": "number"},
                "z": {"type": "number"},
            },
        },
    },
}

#: ``$id`` -> dataset. ArchiveMetadata datasets must start with that name:
#: stage 1 injects every manifest field into them.
SCHEMA_MAPPING = {
    "schemas/v1/ArchiveMetadata": "ArchiveMetadata_v1",
    "schemas/v1/TaskData": "TaskData_v1",
    "schemas/v1/WeatherResult": "WeatherResult_v1",
    "schemas/v1/MotionRecord": "MotionRecord_v1",
}

#: revisions 1 and 2 are mapped; records at revision 3 resolve to 2
ARCHIVE_MAP = {
    "assessments": [
        {
            "assessmentIdentifier": a,
            "assessmentRevision": rev,
            "files": [
                {"filename": "taskData.json", "jsonSchema": TASK_URL},
                {"filename": "weather.json", "jsonSchema": WEATHER_URL},
            ],
        }
        for a in ASSESSMENTS
        for rev in (1, 2)
    ],
    "apps": [
        {
            "appId": APP_ID,
            "default": [
                {"files": [{"filename": "metadata.json", "jsonSchema": META_URL}]}
            ],
            "anyOf": [],
        }
    ],
    "anyOf": [],
}


def _cols(*pairs: tuple[str, str]) -> list[dict[str, str]]:
    return [{"Name": n, "Type": t} for n, t in pairs]


REGISTRY_DOC = {
    "tables": {
        "ArchiveMetadata_v1": {
            "columns": _cols(
                ("appName", "string"),
                ("appVersion", "string"),
                ("taskIdentifier", "string"),
                ("deviceInfo", "struct<deviceName:string,osName:string,osVersion:string>"),
                (
                    "files",
                    "array<struct<filename:string,timestamp:string,"
                    "contentType:string,jsonSchema:string>>",
                ),
                ("recordid", "string"),
                ("assessmentrevision", "string"),
                ("uploadedon", "string"),
                ("clientinfo", "string"),
            )
        },
        "TaskData_v1": {
            "columns": _cols(
                ("taskRunUUID", "string"),
                ("startDate", "string"),
                ("endDate", "string"),
                (
                    "steps",
                    "array<struct<identifier:string,startDate:string,"
                    "endDate:string,answers:array<string>>>",
                ),
                ("recordid", "string"),
            )
        },
        "WeatherResult_v1": {
            "columns": _cols(
                ("type", "string"),
                ("temperature", "double"),
                ("humidity", "double"),
                ("wind", "struct<speed:double,direction:double>"),
                ("recordid", "string"),
            )
        },
        "MotionRecord_v1": {
            "columns": _cols(
                ("sensor", "string"),
                ("t", "double"),
                ("x", "double"),
                ("y", "double"),
                ("z", "double"),
                ("recordid", "string"),
            )
        },
    }
}

#: every table stage 2 writes; the first of each dataset is its root
TABLES = (
    "ArchiveMetadata_v1",
    "ArchiveMetadata_v1_files",
    "TaskData_v1",
    "TaskData_v1_steps",
    "TaskData_v1_steps_answers",
    "WeatherResult_v1",
    "MotionRecord_v1",
)
ROOT_TABLES = tuple(REGISTRY_DOC["tables"])

MEMBER_NAMES = ("metadata.json", "taskData.json", "weather.json", "motion.json", "info.json")
MANIFEST_COLUMNS = (
    "path",
    "recordid",
    "assessmentid",
    "assessmentrevision",
    "uploadedon",
    "clientinfo",
)
MANIFEST_DDL = ", ".join(f"{c} string" for c in MANIFEST_COLUMNS)

_ZIP_DATE = (2024, 3, 1, 0, 0, 0)  # fixed member mtime: byte-identical zips


@dataclass
class Expected:
    """What a correct pipeline produces from a set of archives."""

    archives: int = 0
    input_bytes: int = 0
    members: int = 0
    valid_records: set[str] = field(default_factory=set)
    quarantined_records: set[str] = field(default_factory=set)
    quarantine_rows: int = 0
    suppressed_members: int = 0
    unroutable_members: int = 0
    table_rows: Counter = field(default_factory=Counter)
    table_records: dict[str, set[str]] = field(default_factory=dict)

    def add(self, other: "Expected") -> None:
        self.archives += other.archives
        self.input_bytes += other.input_bytes
        self.members += other.members
        self.valid_records |= other.valid_records
        self.quarantined_records |= other.quarantined_records
        self.quarantine_rows += other.quarantine_rows
        self.suppressed_members += other.suppressed_members
        self.unroutable_members += other.unroutable_members
        self.table_rows.update(other.table_rows)
        for t, ids in other.table_records.items():
            self.table_records.setdefault(t, set()).update(ids)

    def table_counts(self) -> dict[str, tuple[int, int]]:
        """``table -> (rows, distinct recordids)`` for every stage-2 table."""
        return {
            t: (self.table_rows[t], len(self.table_records.get(t, ())))
            for t in TABLES
        }


class StudyGenerator:
    """Writes archive batches into ``archive_dir`` from one seeded stream.

    Calls are deterministic given the seed and the call sequence: the same
    seed yields byte-identical archives and manifest rows."""

    def __init__(self, seed: int, archive_dir: str):
        self.rng = random.Random(seed)
        self.archive_dir = archive_dir
        self.seed = seed
        self.n = 0
        os.makedirs(archive_dir, exist_ok=True)

    def batch(
        self, n_archives: int, days: range = range(UPLOAD_DAYS), corrupt: int = 0
    ) -> tuple[list[tuple[str, ...]], Expected]:
        """Write ``n_archives`` archives uploaded on ``days`` (day offsets in
        March 2024), the last ``corrupt`` of them corrupt. Returns manifest
        rows (file names relative to ``archive_dir``) and expected counts."""
        rows, exp = [], Expected()
        # Stratified, so seeds differ in content but not in volume: the n
        # readable archives hold the same n quantiles of a log-uniform
        # motion size spread (20 elements up to the reference archive's
        # size), the smallest round(n * INVALID_SHARE) of them invalid, in
        # seeded order
        n = n_archives - corrupt
        max_elems = MAX_MOTION_BYTES // MOTION_ELEMENT_BYTES
        n_invalid = round(n * INVALID_SHARE)
        slots = [
            (int(20 * (max_elems / 20) ** ((k + 0.5) / n)), k < n_invalid)
            for k in range(n)
        ]
        self.rng.shuffle(slots)
        slots += [(0, False)] * corrupt
        for k, (n_motion, invalid) in enumerate(slots):
            row, body, rec_exp = self._record(days, n_motion, invalid, corrupt=k >= n)
            with open(os.path.join(self.archive_dir, row[0]), "wb") as fh:
                fh.write(body)
            rec_exp.input_bytes = len(body)
            exp.add(rec_exp)
            rows.append(row)
        return rows, exp

    def _record(self, days: range, n_motion: int, invalid: bool, corrupt: bool):
        rng = self.rng
        self.n += 1
        recordid = f"{self.seed:x}-{self.n:06d}-{rng.getrandbits(32):08x}"
        name = f"{recordid}.zip"
        assessment = rng.choice(ASSESSMENTS)
        revision = str(rng.choice((1, 2, 3)))
        day = rng.choice(days)
        uploaded = (
            f"2024-03-{day + 1:02d}T{rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}."
            f"{rng.randrange(1000):03d}Z"
        )
        android = rng.random() < ANDROID_SHARE
        client = "Android 12; Pixel 6" if android else "iPhone 13; iOS 17.1"
        row = (name, recordid, assessment, revision, uploaded, client)
        exp = Expected(archives=1)
        if corrupt:
            exp.members = 1
            exp.quarantined_records.add(recordid)
            exp.quarantine_rows = 1
            return row, b"PK\x03\x04 truncated upload " + recordid.encode(), exp

        # Android uploads omit weather.type and add taskData.type: both are
        # whitelisted errors, so these members validate after suppression
        quirks = android and rng.random() < 0.5
        stamp = uploaded[:19]
        n_steps = rng.randint(2, 6)
        steps = []
        n_answers = 0
        for s in range(n_steps):
            step = {"identifier": f"step{s}", "startDate": stamp, "endDate": stamp}
            if rng.random() < 0.7:
                step["answers"] = [f"a{rng.randrange(50)}" for _ in range(rng.randint(1, 4))]
                n_answers += len(step["answers"])
            steps.append(step)
        task = {
            "taskRunUUID": f"{rng.getrandbits(64):016x}",
            "startDate": stamp,
            "endDate": stamp,
            "steps": steps,
        }
        weather = {
            "type": "weather",
            "temperature": round(rng.uniform(-5, 35), 2),
            "humidity": round(rng.uniform(0, 1), 3),
            "wind": {
                "speed": round(rng.uniform(0, 20), 2),
                "direction": round(rng.uniform(0, 360), 1),
            },
        }
        if quirks:
            del weather["type"]
            task["type"] = "task"
        if invalid:
            weather["temperature"] = "hot"
        t0 = rng.uniform(0, 1000)
        motion = [
            {
                "sensor": SENSORS[i % len(SENSORS)],
                "t": round(t0 + i * 0.01, 3),
                "x": round(rng.gauss(0, 1), 4),
                "y": round(rng.gauss(0, 1), 4),
                "z": round(rng.gauss(0, 1), 4),
            }
            for i in range(n_motion)
        ]
        files = [
            {"filename": f, "timestamp": stamp, "contentType": "application/json"}
            for f in MEMBER_NAMES
        ]
        files[3]["jsonSchema"] = MOTION_URL  # the self-referenced schema
        metadata = {
            "appName": APP_ID,
            "appVersion": "v1.3.0",
            "taskIdentifier": assessment,
            "deviceInfo": {
                "deviceName": client.split(";")[1].strip(),
                "osName": "Android" if android else "iOS",
                "osVersion": client.split(" ")[1].rstrip(";"),
            },
            "files": files,
        }
        info = {"note": "diagnostics", "build": rng.randrange(1000)}
        bodies = dict(
            zip(MEMBER_NAMES, (metadata, task, weather, motion, info))
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for member, body in bodies.items():
                zf.writestr(zipfile.ZipInfo(member, _ZIP_DATE), json.dumps(body))

        exp.members = len(MEMBER_NAMES)
        exp.unroutable_members = 1  # info.json
        if quirks:  # an invalid weather.json keeps its non-whitelisted error
            exp.suppressed_members = 1 if invalid else 2
        if invalid:
            exp.quarantined_records.add(recordid)
            exp.quarantine_rows = 1  # only weather.json carries an error
            return row, buf.getvalue(), exp
        exp.valid_records.add(recordid)
        per_table = {
            "ArchiveMetadata_v1": 1,
            "ArchiveMetadata_v1_files": len(files),
            "TaskData_v1": 1,
            "TaskData_v1_steps": n_steps,
            "TaskData_v1_steps_answers": n_answers,
            "WeatherResult_v1": 1,
            "MotionRecord_v1": n_motion,
        }
        for t, rows in per_table.items():
            if rows:
                exp.table_rows[t] += rows
                exp.table_records[t] = {recordid}
        return row, buf.getvalue(), exp

"""Seeded generator for the F4 conversion fixture (FIXTURES.md F4).

Seventeen tab-separated columns with a header row, one row per index
``idx``, each value computed by the F4 formula for its column. The seed
picks the indices (a shuffled run of consecutive integers) and the
cells that are made dirty. Three knobs make the file dirty:

- ``null_rate``: a cell becomes the null token ``NA``;
- ``noise_rate``: a cell becomes a noise string that no typed parser
  accepts (a ``~`` followed by letters);
- ``ragged_rate``: a whole line is replaced by 1..20 noise fields.

Next to the file, :func:`write_f4` writes a ground-truth JSON record:
rows, and per column the planted null and noise counts (ragged lines
are counted once, not per cell). :func:`recount` re-derives the same
record from the file alone, so the two can be compared.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import random
import string
from dataclasses import asdict, dataclass, field

#: F4 header (FIXTURES.md F4, reference generator :299-319)
COLUMNS = [
    "Boolean", "Int32", "Int64", "UInt32", "UInt64", "Float16", "Float32",
    "Float64", "Utf8", "Utf8View", "LargeUtf8", "Binary", "Date32",
    "Timestamp(Millisecond, None)", "Timestamp(Nanosecond, None)",
    "Decimal32", "Decimal128(38, 10)",
]

#: the Spark type each column must convert to (FIXTURES.md F4, last column)
SPARK_TYPES = [
    "boolean", "bigint", "bigint", "bigint", "bigint", "double", "double",
    "double", "string", "string", "string", "string", "date",
    "timestamp_ntz", "timestamp_ntz", "double", "double",
]

#: column indices whose cast can fail (everything but the four strings)
TYPED = [i for i, t in enumerate(SPARK_TYPES) if t != "string"]

NULL_TOKEN = "NA"
_BASE_DATE = _dt.date(2024, 1, 1)


def f4_values(idx: int) -> list[str]:
    """The 17 clean F4 cells for one index."""
    sec = idx % 86_400
    hms = f"{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"
    return [
        str(idx % 2 == 0),
        str(idx),
        str(idx * 1000),
        str(idx),
        str(idx * 10_000),
        str(round(idx * 0.5, 2)),
        str(idx * 0.1),
        str(idx * 0.0001),
        f"texte_{idx}",
        f"vue_{idx}",
        f"texte_long_{idx}" * 2,
        f"bin_{idx}",
        (_BASE_DATE + _dt.timedelta(days=idx % 10_000)).isoformat(),
        f"2024-01-01T{hms}.{idx % 1000:03d}",
        f"2024-01-01T{hms}",
        str(round(idx / 10, 2)),
        str(round(idx / math.pi, 10)),
    ]


def is_noise(value: str) -> bool:
    return value.startswith("~")


@dataclass
class GroundTruth:
    rows: int
    bytes: int
    nulls: list[int] = field(default_factory=lambda: [0] * len(COLUMNS))
    noise: list[int] = field(default_factory=lambda: [0] * len(COLUMNS))
    ragged: int = 0

    def to_json(self) -> str:
        return json.dumps({"columns": COLUMNS, **asdict(self)}, indent=1)


@dataclass
class F4File:
    path: str
    truth: GroundTruth
    #: the Int32 cell of each data line in file order: ``idx`` when the
    #: cell is clean, ``None`` when it was made null, noise or ragged
    int32: list[int | None]


def write_f4(
    path: str,
    rows: int,
    seed: int,
    null_rate: float = 0.0,
    noise_rate: float = 0.0,
    ragged_rate: float = 0.0,
) -> F4File:
    """Write ``rows`` F4 lines to ``path`` and its ground truth to
    ``path + '.truth.json'``. The same arguments give the same bytes."""
    rng = random.Random(seed)
    start = rng.randrange(0, 1_000_000)
    order = list(range(start, start + rows))
    rng.shuffle(order)
    truth = GroundTruth(rows=rows, bytes=0)
    int32: list[int | None] = []
    lines = ["\t".join(COLUMNS)]
    for idx in order:
        if ragged_rate and rng.random() < ragged_rate:
            truth.ragged += 1
            int32.append(None)
            lines.append("\t".join(_noise(rng) for _ in range(rng.randint(1, 20))))
            continue
        cells = f4_values(idx)
        for c in range(len(cells)):
            if null_rate and rng.random() < null_rate:
                cells[c] = NULL_TOKEN
                truth.nulls[c] += 1
            elif noise_rate and rng.random() < noise_rate:
                cells[c] = _noise(rng)
                truth.noise[c] += 1
        int32.append(None if cells[1] == NULL_TOKEN or is_noise(cells[1]) else idx)
        lines.append("\t".join(cells))
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    truth.bytes = len(data)
    with open(path + ".truth.json", "w") as fh:
        fh.write(truth.to_json())
    return F4File(path=path, truth=truth, int32=int32)


def _noise(rng: random.Random) -> str:
    return "~" + "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 8)))


def recount(path: str) -> GroundTruth:
    """Re-derive the ground truth from the file's text alone."""
    with open(path, "rb") as fh:
        data = fh.read()
    lines = data.decode().splitlines()[1:]
    truth = GroundTruth(rows=len(lines), bytes=len(data))
    for line in lines:
        cells = line.split("\t")
        if len(cells) != len(COLUMNS) or not any(
            not is_noise(v) and v != NULL_TOKEN for v in cells
        ):
            truth.ragged += 1
            continue
        for c, v in enumerate(cells):
            if v == NULL_TOKEN:
                truth.nulls[c] += 1
            elif is_noise(v):
                truth.noise[c] += 1
    return truth

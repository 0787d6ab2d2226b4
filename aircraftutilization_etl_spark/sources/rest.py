"""REST / HTTP-CSV ingest — the OpenSky feed endpoints as typed sources.

Reference S1 (src/plugins/scripts/opensky/client.py:20-35): GET
/api/states/all with basic auth, 5 s timeout, logs X-Rate-Limit-Remaining,
raises InvalidResponseError on non-200. Reference S2
(opensky/transformers.py:37-58): the JSON ``states`` array → 17-column
table, KeyError/ValueError → InvalidResponseError. Reference S3
(client.py:37-41): the ~500k-row aircraft-database CSV.

Spark has no native REST source; the poll is driver-side (the payload is
one ~10⁴-row snapshot — not a distributable read). The snapshot becomes a
DataFrame through Arrow: one typed column per schema field, handed to the
JVM as record batches, so no Python worker touches the rows and no action
re-unpickles them. ``state_vectors`` is the one shape validator; the
``opensky`` data source (sources/opensky_datasource.py) uses it too.
``requests`` is import-gated: the engine works without it (tests inject
responses).
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import BooleanType, DoubleType, IntegerType, StringType

from ..errors import InvalidCredentials, InvalidResponseError
from ..schemas import STATES_SCHEMA

try:  # pragma: no cover - exercised only when requests is installed
    import requests
except ImportError:  # pragma: no cover
    requests = None

logger = logging.getLogger(__name__)

OPENSKY_STATES_URL = "https://opensky-network.org/api/states/all"
REQUEST_TIMEOUT_SECONDS = 5  # reference client.py:25
N_STATE_COLUMNS = len(STATES_SCHEMA.fields)
# The one Python type each field type takes, matched exactly (a bool is no
# int, an int no float) — what ``createDataFrame(rows, STATES_SCHEMA)``
# accepts.
_PY_TYPES = {IntegerType: int, DoubleType: float, BooleanType: bool, StringType: str}


class OpenSkyClient:
    """Driver-side OpenSky API client (reference client.py:8-41)."""

    def __init__(self, username: str | None = None, password: str | None = None):
        if (username is None) != (password is None):
            raise InvalidCredentials("username and password must be set together")
        self.auth = (username, password) if username else None

    def get_states(self) -> dict:
        if requests is None:
            raise InvalidResponseError("requests not available in this environment")
        response = requests.get(
            OPENSKY_STATES_URL, auth=self.auth, timeout=REQUEST_TIMEOUT_SECONDS
        )
        remaining = response.headers.get("X-Rate-Limit-Remaining")
        logger.info("OpenSky rate limit remaining: %s", remaining)
        if response.status_code != 200:
            raise InvalidResponseError(f"status {response.status_code}")
        return response.json()


def state_vectors(payload: dict) -> list[tuple]:
    """S2 shape validation: the ``states`` array → 17-element tuples.

    A missing or non-iterable ``states`` and wrong-arity vectors raise
    InvalidResponseError (reference opensky/transformers.py:40-47); a
    null ``states`` is an empty snapshot.
    """
    try:
        rows = [tuple(vector) for vector in payload["states"] or []]
    except (KeyError, TypeError) as exc:
        raise InvalidResponseError(f"malformed states payload: {exc!r}") from exc
    for row in rows:
        if len(row) != N_STATE_COLUMNS:
            raise InvalidResponseError(
                f"state vector arity {len(row)} != {N_STATE_COLUMNS}"
            )
    return rows


def _as_string(value):
    """A string field's value as the row path stores it: booleans as
    Spark prints them, other non-strings (numbers, arrays, objects) as
    ``str()``."""
    if value is None or type(value) is str:
        return value
    if type(value) is bool:
        return "true" if value else "false"
    return str(value)


def _arrow_column(values: tuple, field) -> pa.Array:
    py_type = _PY_TYPES[type(field.dataType)]
    wrong = set(map(type, values)) - {py_type, type(None)}
    if wrong and py_type is str:
        values = [_as_string(v) for v in values]
    elif wrong:
        raise InvalidResponseError(
            f"field {field.name} ({field.dataType.simpleString()}) got "
            + ", ".join(sorted(t.__name__ for t in wrong))
        )
    try:
        return pa.array(values, type=to_arrow_type(field.dataType))
    except (OverflowError, pa.ArrowException) as exc:  # int32 range
        raise InvalidResponseError(f"field {field.name}: {exc}") from exc


def states_response_to_df(spark: SparkSession, payload: dict) -> DataFrame:
    """S2 — JSON→table normalization with shape and type validation.

    The state vectors become one Arrow column per ``STATES_SCHEMA``
    field. Every payload ``createDataFrame(rows, STATES_SCHEMA)`` accepts
    gives the same rows; every one it rejects (a wrong value type, an
    epoch outside int32) raises InvalidResponseError instead.
    """
    rows = state_vectors(payload)
    columns = list(zip(*rows)) or [()] * N_STATE_COLUMNS
    table = pa.Table.from_arrays(
        [_arrow_column(c, f) for c, f in zip(columns, STATES_SCHEMA.fields)],
        names=STATES_SCHEMA.names,
    )
    return spark.createDataFrame(table, STATES_SCHEMA)


def read_aircraft_database_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3 — aircraft-database CSV scan (staged locally or on object store).

    The one inferred-schema ingest in the system (reference client.py:40
    uses pd.read_csv(url)); the projection to the 7 dimension columns
    happens in operators.flight.project_metadata.
    """
    return spark.read.option("header", True).csv(path)

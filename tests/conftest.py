import json
from pathlib import Path

import pyarrow as pa
import pytest

from pbf_spark.fixtures import generate as gen
from pbf_spark.model.schema import ENTITY_ARROW_SCHEMA
from pbf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pbf_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> Path:
    """Small deterministic fixture (seed 42): fast but multi-block."""
    out = tmp_path_factory.mktemp("fx") / "mini"
    gen.generate(out, n_nodes=9000, n_ways=700, n_relations=40, spans_per_doc=2)
    return out


@pytest.fixture(scope="session")
def fixture_manifest(fixture_dir) -> dict:
    return json.loads((fixture_dir / "fixture_manifest.json").read_text())


SAMPLE_PBF = "/root/reference/testdata/sample.osm.pbf"


def entity_table(kind: str, rows: list[dict]) -> pa.Table:
    """One kind's entity rows as ``ENTITY_ARROW_SCHEMA`` columns, the
    ``encode_block`` input (absent keys are null; ``info.ts`` in epoch
    microseconds). ``way_lats``/``way_lons`` come along when a row has them."""
    schema = ENTITY_ARROW_SCHEMA
    if any("way_lats" in r for r in rows):
        for name in ("way_lats", "way_lons"):
            schema = schema.append(pa.field(name, pa.list_(pa.float64())))
    return pa.Table.from_pylist([{"entity_type": kind, **r} for r in rows], schema=schema)

"""Run the reference's own schema-file corpus through our validator.

Mirrors the reference's tests/test_schema.py: every file the reference
accepts must load, every file it rejects must raise SchemaError — the
cheapest proof that ``core/schema.py::validate_schema_dict`` (hand-rolled,
not jsonschema) draws the same accept/reject boundary as the reference's
jsonschema-based validator (clkhash/schema.py:266-333). The corpus is
the reference's tests/testdata directory, the same one that holds the
FEBRL fixture, so it resolves through ``sources.febrl.FEBRL_TESTDATA``
(``CLKHASH_SPARK_FEBRL_DIR``).
"""

import json
import os

import pytest

from clkhash_spark.core.schema import (
    SchemaError,
    from_json_dict,
    from_json_file,
    from_json_str,
)
from clkhash_spark.sources.febrl import FEBRL_TESTDATA as TESTDATA

GOOD_FILES = [
    "good-schema-v1.json",
    "good-schema-v2.json",
    "good-schema-v3.json",
    "ignorant-schema-v3.json",
    "randomnames-schema-v1.json",
    "randomnames-schema-v2.json",
    "randomnames-schema-num-bits-v2.json",
    "simple-schema.json",
    "dirty-data-schema.json",
]

BAD_FILES = [
    "bad-schema-v1.json",
    "bad-schema-v2.json",
    "bad-schema-v3.json",
    # version field is unsupported → reject (reference
    # test_valid_but_unsupported_schema)
    "good-but-unsupported-schema-v1.json",
]

corpus_exists = pytest.mark.skipif(
    not os.path.isdir(TESTDATA),
    reason="reference schema corpus not available "
    "(set CLKHASH_SPARK_FEBRL_DIR)",
)


@corpus_exists
class TestReferenceSchemaCorpus:
    @pytest.mark.parametrize("name", GOOD_FILES)
    def test_accepts_good_schema(self, name):
        with open(os.path.join(TESTDATA, name)) as fp:
            schema = from_json_file(fp)
        assert len(schema.fields) >= 1

    @pytest.mark.parametrize("name", BAD_FILES)
    def test_rejects_bad_schema(self, name):
        with open(os.path.join(TESTDATA, name)) as fp:
            with pytest.raises(SchemaError):
                from_json_file(fp)

    def test_v1_upgrades_to_12_fields(self):
        # reference test_good_schema_repr: v1 converts to v3, 12 fields
        with open(os.path.join(TESTDATA, "good-schema-v1.json")) as fp:
            schema = from_json_file(fp)
        assert len(schema.fields) == 12

    def test_ignorant_schema_field_types(self):
        # reference test_ignore_definitions: fields 0-1 ignored, 2 hashed
        with open(os.path.join(TESTDATA, "ignorant-schema-v3.json")) as fp:
            schema = from_json_file(fp)
        assert schema.fields[0].hash_spec is None
        assert schema.fields[1].hash_spec is None
        assert schema.fields[2].hash_spec is not None

    @pytest.mark.parametrize("text", ["{", "[]", '"foo"'])
    def test_rejects_malformed_json_documents(self, text):
        with pytest.raises(SchemaError):
            from_json_str(text)

    def test_illdefined_not_ignored_feature(self):
        # reference test_validation_of_illdefined_not_ignored_feature
        doc = {
            "version": 2,
            "clkConfig": {"l": 1024, "kdf": {"type": "HKDF"}},
            "features": [{"identifier": "rec_id", "ignored": False}],
        }
        with pytest.raises(SchemaError):
            from_json_dict(doc)

    def test_corpus_round_trips_through_json(self):
        # every good schema survives dump/load (no hidden object state)
        for name in GOOD_FILES:
            with open(os.path.join(TESTDATA, name)) as fp:
                doc = json.load(fp)
            from_json_dict(json.loads(json.dumps(doc)))

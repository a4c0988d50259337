"""Driver-side literal frames (localframe.py)."""

from __future__ import annotations

import pytest

from quantlab_data_pipeline_spark.localframe import _ddl_names, local_df


@pytest.mark.parametrize(
    "schema",
    [
        "a array<int>, b map<string,int>",  # comma in the second group
        "a map<array<int>,int>",  # comma after a nested group closes
        "s struct<x:int,y:int>",
    ],
)
def test_ddl_names_rejects_comma_in_any_angle_group(schema):
    with pytest.raises(ValueError, match="flat DDL"):
        _ddl_names(schema)


def test_flat_schema_parses_and_builds(spark):
    schema = "id long, tags array<string>, name string"
    assert _ddl_names(schema) == ["id", "tags", "name"]
    df = local_df(spark, [(1, ["x", "y"], "a"), (2, [], None)], schema)
    assert df.schema.simpleString() == (
        "struct<id:bigint,tags:array<string>,name:string>"
    )
    assert [tuple(r) for r in df.orderBy("id").collect()] == [
        (1, ["x", "y"], "a"),
        (2, [], None),
    ]

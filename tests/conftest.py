from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ucuddle_search_engine_spark.session import get_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ucuddle_tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_TINY}/documents.parquet").cache()


@pytest.fixture(scope="session")
def built_store(spark, tmp_path_factory):
    """Factory for written stores: built_store(n_docs, partitions, **build_kw)
    returns the path of a private copy of the store that build_index_resumable
    writes for synth_corpus(spark, n_docs, partitions) with build_kw (at
    `dest` when given). Each distinct store is built once per session, so
    tests that serve, tombstone or rewrite the same store share one Spark
    build; every caller may mutate its copy."""
    import inspect
    import shutil

    from ucuddle_search_engine_spark.plans.build_index import build_index_resumable
    from ucuddle_search_engine_spark.synth import synth_corpus

    built: dict[tuple, str] = {}
    sig = inspect.signature(build_index_resumable)

    def get(n_docs: int, partitions: int, dest: str | None = None, **build_kw) -> str:
        args = sig.bind_partial(**build_kw)
        args.apply_defaults()  # equal builds share a key however they are spelled
        key = (n_docs, partitions, tuple(sorted((k, repr(v)) for k, v in args.arguments.items())))
        if key not in built:
            src = str(tmp_path_factory.mktemp("built_store"))
            build_index_resumable(spark, synth_corpus(spark, n_docs, partitions=partitions),
                                  src, **build_kw)
            built[key] = src
        dest = dest or os.path.join(str(tmp_path_factory.mktemp("store")), "store")
        shutil.copytree(built[key], dest)
        return dest

    return get

"""The default gate (``pytest tests/``) deselects the ``slow`` batteries
(pytest.ini). This pins that set by name, so a test cannot leave the
default gate by gaining the marker without this file changing too."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SLOW_TESTS = frozenset({
    "tests/test_api.py::test_delete_documents_bulk_single_rewrite",
    "tests/test_api.py::test_refresh_all_sweeps_every_category",
    "tests/test_api.py::test_refresh_index_incremental",
    "tests/test_api.py::test_refresh_index_incremental_self_heals_crash_windows",
    "tests/test_api.py::test_search_many_matches_per_query_search",
    "tests/test_api.py::test_search_many_offset_pagination",
    "tests/test_api.py::test_search_many_where_adaptive_probe_widening",
    "tests/test_api.py::test_search_where_adaptive_probe_widening",
    "tests/test_curation.py::test_strip_boilerplate_fixpoint_matches_naive_reference",
    "tests/test_embed_http.py::test_engine_with_http_provider",
    "tests/test_fulltext.py::test_engine_append_text_index",
    "tests/test_hybrid_engine.py::test_delete_category_and_owner_remove_text_index_dirs",
    "tests/test_hybrid_engine.py::test_delete_document_maintains_text_index",
    "tests/test_hybrid_engine.py::test_search_many_hybrid_matches_per_query_hybrid",
    "tests/test_neardup_index.py::test_compact_drops_dead_band_rows",
    "tests/test_neardup_index.py::test_deleted_doc_self_heals",
    "tests/test_neardup_index.py::test_upload_skip_drops_duplicates",
    "tests/test_relational_ops.py::test_range_join_point_shape_and_equivalence",
    "tests/test_service.py::test_admin_neardup_route",
    "tests/test_service.py::test_categories_and_deletes",
    "tests/test_service.py::test_hybrid_route_and_admin_refresh",
    "tests/test_service.py::test_hybrid_searches_survive_concurrent_rebuild",
    "tests/test_streaming_boilerplate.py::test_stream_is_stateless_across_batches",
    "tests/test_streaming_decontaminate.py::test_cut_mode_trims_quotes_keeps_documents",
    "tests/test_substr.py::test_cut_matches_naive_on_random_corpora",
    "tests/test_substr.py::test_engine_bulk_cut_frame_shaped",
    "tests/test_substr.py::test_engine_cut_final_token_renormalization_converges",
    "tests/test_substr.py::test_engine_decontaminate_cut",
    "tests/test_substr.py::test_engine_substr_cut_re_embed",
    "tests/test_substr.py::test_engine_substr_dedup_cut_roundtrip",
})


def test_slow_manifest_is_frozen():
    """Collects the suite with ``-m slow`` (collection only: no Spark
    session starts) and compares the selected node ids to the pin."""
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests", "--collect-only", "-q",
         "-m", "slow", "-p", "no:cacheprovider"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    collected = {ln for ln in out.stdout.splitlines() if "::" in ln}
    assert len(SLOW_TESTS) == 30
    assert collected == SLOW_TESTS, (
        f"newly slow: {sorted(collected - SLOW_TESTS)}; "
        f"no longer slow: {sorted(SLOW_TESTS - collected)}"
    )

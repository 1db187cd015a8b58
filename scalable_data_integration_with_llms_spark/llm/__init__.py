from .boundary import llm_map, mock_score_request, MOCK_NO_MATCH_MILLI, SCORED_SCHEMA

__all__ = ["llm_map", "mock_score_request", "MOCK_NO_MATCH_MILLI", "SCORED_SCHEMA"]

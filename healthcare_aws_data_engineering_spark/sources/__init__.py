from .tables import load_table, observation_view_from_events  # noqa: F401

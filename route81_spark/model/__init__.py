from route81_spark.model.schemas import TS_TYPE, change_event_schema

__all__ = ["TS_TYPE", "change_event_schema"]

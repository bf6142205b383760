"""Old import path of ``etl_router_spark.functions.stateful``."""
from etl_router_spark.functions.stateful import *  # noqa: F401,F403

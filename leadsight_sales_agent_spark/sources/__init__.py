from leadsight_sales_agent_spark.sources.catalog import TABLES, load  # noqa: F401

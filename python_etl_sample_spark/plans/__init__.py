from python_etl_sample_spark.plans.inspect import explain_formatted

__all__ = ["explain_formatted"]

"""KG-construction benchmark for ner_app_spark; entry point: perfbench/run.py."""

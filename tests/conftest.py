from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("sparkdon-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


def spark_jobs(spark, fn):
    """``(fn(), n)``: ``n`` is the number of Spark jobs ``fn`` ran, read
    from ``statusTracker`` under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


BOROS_TTL = """
@prefix : <http://example.com/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
:New_York_City :boro :Manhattan , :Brooklyn , :Queens , :The_Bronx , :Staten_Island .
:Manhattan rdfs:label "Manhattan"@en , "Манхэттен"@ru .
:Brooklyn rdfs:label "Brooklyn"@en .
:Queens a :Borough .
:Manhattan a :Borough .
"""

SEQ11_TTL = """
@prefix : <http://example.com/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
:seq a rdf:Seq ;
  rdf:_1 "one" ; rdf:_2 "two" ; rdf:_3 "three" ; rdf:_4 "four" ; rdf:_5 "five" ;
  rdf:_6 "six" ; rdf:_7 "seven" ; rdf:_8 "eight" ; rdf:_9 "nine" ; rdf:_10 "ten" ;
  rdf:_11 "eleven" .
"""

LAURIE_TTL = """
@prefix : <http://example.com/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
:bag a rdf:Bag ;
  rdf:_1 "this" ; rdf:_2 "is" ; rdf:_3 "the" ; rdf:_4 "time" ;
  rdf:_5 "this" ; rdf:_6 "is" ; rdf:_7 "the" ; rdf:_8 "best" ; rdf:_9 "time" ;
  rdf:_10 "of" ; rdf:_11 "the" ; rdf:_12 "year" .
"""

RACES_TTL = """
@prefix : <http://example.com/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
:tioga_downs_2017_08_14 a rdf:Seq ;
  rdf:_1 :race_1 ; rdf:_2 :race_2 ; rdf:_3 :race_3 .
:race_1 a rdf:Seq ; rdf:_1 "First" ; rdf:_2 "Second" ; rdf:_3 "Third" .
:race_2 a rdf:Seq ; rdf:_1 "Alpha" ; rdf:_2 "Beta" ; rdf:_3 "Gamma" ; rdf:_4 "Delta" .
:race_3 a rdf:Seq ; rdf:_1 "X" ; rdf:_2 "Y" .
"""

SCHEMA_TTL = """
@prefix : <http://example.com/> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
:Animal rdfs:subClassOf :Thing .
:Mammal rdfs:subClassOf :Animal .
:Dog rdfs:subClassOf :Mammal .
:Cat rdfs:subClassOf :Mammal .
:Reptile rdfs:subClassOf :Animal .
:Dog rdfs:label "Dog"@en , "Hund"@de .
:Cat rdfs:label "Katze"@de .
:name a owl:DatatypeProperty .
:owns a owl:ObjectProperty .
:Dog a owl:Class . :Cat a owl:Class . :Mammal a owl:Class .
"""

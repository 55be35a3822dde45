"""Query definitions, grouped by SURVEY.md §2 category.

Importing this package registers nothing. Each module directly under
it declares its queries with ``@query("name", ...)``, and
``oarphpy_spark.registry`` finds them by scanning the modules' source
text: a lookup imports only the module that defines the name it asks
for, and iterating the oracles imports every module.
"""

"""Scalar function library: the reference's per-field normalizers.

``normalizers_py``  pure-Python contract implementations (pytest goldens,
                    the invoice-field kernel's normalizers, and the
                    kernels of the two pandas UDFs below)
``normalizers``     Spark Column expressions (native pyspark.sql.functions,
                    codegen'd JVM-side) behind the ``norm_*`` board
                    operators
"""

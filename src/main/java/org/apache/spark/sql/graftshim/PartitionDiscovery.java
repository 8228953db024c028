package org.apache.spark.sql.graftshim;

import org.apache.hadoop.fs.Path;
import org.apache.spark.sql.execution.datasources.PartitioningUtils$;
import org.apache.spark.sql.types.StructType;

/** Spark's hive partition discovery, {@code PartitioningUtils.parsePartitions},
 * is {@code private[datasources]} in Scala source but public in the
 * bytecode, so Java can call it where Scala cannot. This is the one such
 * call; {@link GraftStreamShim#hiveSchema} is its only caller. */
final class PartitionDiscovery {
  private PartitionDiscovery() {}

  /** The partition columns Spark infers from the leaf dirs under the base
   * paths, with no user schema. */
  static StructType partitionColumns(
      scala.collection.immutable.Seq<Path> leafDirs, boolean typeInference,
      scala.collection.immutable.Set<Path> basePaths, boolean caseSensitive,
      boolean validatePartitionColumns, String timeZoneId,
      boolean ignoreInvalidPartitionPaths) {
    return PartitioningUtils$.MODULE$.parsePartitions(leafDirs, typeInference,
        basePaths, scala.Option.empty(), caseSensitive,
        validatePartitionColumns, timeZoneId, ignoreInvalidPartitionPaths)
        .partitionColumns();
  }
}

/* 001 */ public Object generate(Object[] references) {
/* 002 */   return new GeneratedIteratorForCodegenStage1(references);
/* 003 */ }
/* 004 */
/* 005 */ // codegenStageId=1
/* 006 */ final class GeneratedIteratorForCodegenStage1 extends org.apache.spark.sql.execution.BufferedRowIterator {
/* 007 */   private Object[] references;
/* 008 */   private scala.collection.Iterator[] inputs;
/* 009 */   private boolean hashAgg_initAgg_0;
/* 010 */   private boolean hashAgg_bufIsNull_0;
/* 011 */   private double hashAgg_bufValue_0;
/* 012 */   private boolean hashAgg_bufIsNull_1;
/* 013 */   private long hashAgg_bufValue_1;
/* 014 */   private hashAgg_FastHashMap_0 hashAgg_fastHashMap_0;
/* 015 */   private org.apache.spark.unsafe.KVIterator<UnsafeRow, UnsafeRow> hashAgg_fastHashMapIter_0;
/* 016 */   private org.apache.spark.unsafe.KVIterator hashAgg_mapIter_0;
/* 017 */   private org.apache.spark.sql.execution.UnsafeFixedWidthAggregationMap hashAgg_hashMap_0;
/* 018 */   private org.apache.spark.sql.execution.UnsafeKVExternalSorter hashAgg_sorter_0;
/* 019 */   private scala.collection.Iterator inputadapter_input_0;
/* 020 */   private boolean hashAgg_hashAgg_isNull_9_0;
/* 021 */   private boolean hashAgg_hashAgg_isNull_11_0;
/* 022 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter[] filter_mutableStateArray_1 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter[3];
/* 023 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[] filter_mutableStateArray_0 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[7];
/* 024 */
/* 025 */   public GeneratedIteratorForCodegenStage1(Object[] references) {
/* 026 */     this.references = references;
/* 027 */   }
/* 028 */
/* 029 */   public void init(int index, scala.collection.Iterator[] inputs) {
/* 030 */     partitionIndex = index;
/* 031 */     this.inputs = inputs;
/* 032 */     wholestagecodegen_init_0_0();
/* 033 */     wholestagecodegen_init_0_1();
/* 034 */
/* 035 */   }
/* 036 */
/* 037 */   public class hashAgg_FastHashMap_0 {
/* 038 */     private org.apache.spark.sql.catalyst.expressions.RowBasedKeyValueBatch batch;
/* 039 */     private int[] buckets;
/* 040 */     private int capacity = 1 << 16;
/* 041 */     private double loadFactor = 0.5;
/* 042 */     private int numBuckets = (int) (capacity / loadFactor);
/* 043 */     private int maxSteps = 2;
/* 044 */     private int numRows = 0;
/* 045 */     private Object emptyVBase;
/* 046 */     private long emptyVOff;
/* 047 */     private int emptyVLen;
/* 048 */     private boolean isBatchFull = false;
/* 049 */     private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter agg_rowWriter;
/* 050 */
/* 051 */     public hashAgg_FastHashMap_0(
/* 052 */       org.apache.spark.memory.TaskMemoryManager taskMemoryManager,
/* 053 */       InternalRow emptyAggregationBuffer) {
/* 054 */       batch = org.apache.spark.sql.catalyst.expressions.RowBasedKeyValueBatch
/* 055 */       .allocate(((org.apache.spark.sql.types.StructType) references[1] /* keySchemaTerm */), ((org.apache.spark.sql.types.StructType) references[2] /* valueSchemaTerm */), taskMemoryManager, capacity);
/* 056 */
/* 057 */       final UnsafeProjection valueProjection = UnsafeProjection.create(((org.apache.spark.sql.types.StructType) references[2] /* valueSchemaTerm */));
/* 058 */       final byte[] emptyBuffer = valueProjection.apply(emptyAggregationBuffer).getBytes();
/* 059 */
/* 060 */       emptyVBase = emptyBuffer;
/* 061 */       emptyVOff = Platform.BYTE_ARRAY_OFFSET;
/* 062 */       emptyVLen = emptyBuffer.length;
/* 063 */
/* 064 */       agg_rowWriter = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(
/* 065 */         2, 0);
/* 066 */
/* 067 */       buckets = new int[numBuckets];
/* 068 */       java.util.Arrays.fill(buckets, -1);
/* 069 */     }
/* 070 */
/* 071 */     public org.apache.spark.sql.catalyst.expressions.UnsafeRow findOrInsert(int hashAgg_key_0, int hashAgg_key_1) {
/* 072 */       long h = hash(hashAgg_key_0, hashAgg_key_1);
/* 073 */       int step = 0;
/* 074 */       int idx = (int) h & (numBuckets - 1);
/* 075 */       while (step < maxSteps) {
/* 076 */         // Return bucket index if it's either an empty slot or already contains the key
/* 077 */         if (buckets[idx] == -1) {
/* 078 */           if (numRows < capacity && !isBatchFull) {
/* 079 */             agg_rowWriter.reset();
/* 080 */             agg_rowWriter.zeroOutNullBytes();
/* 081 */             agg_rowWriter.write(0, hashAgg_key_0);
/* 082 */             agg_rowWriter.write(1, hashAgg_key_1);
/* 083 */             org.apache.spark.sql.catalyst.expressions.UnsafeRow agg_result
/* 084 */             = agg_rowWriter.getRow();
/* 085 */             Object kbase = agg_result.getBaseObject();
/* 086 */             long koff = agg_result.getBaseOffset();
/* 087 */             int klen = agg_result.getSizeInBytes();
/* 088 */
/* 089 */             UnsafeRow vRow
/* 090 */             = batch.appendRow(kbase, koff, klen, emptyVBase, emptyVOff, emptyVLen);
/* 091 */             if (vRow == null) {
/* 092 */               isBatchFull = true;
/* 093 */             } else {
/* 094 */               buckets[idx] = numRows++;
/* 095 */             }
/* 096 */             return vRow;
/* 097 */           } else {
/* 098 */             // No more space
/* 099 */             return null;
/* 100 */           }
/* 101 */         } else if (equals(idx, hashAgg_key_0, hashAgg_key_1)) {
/* 102 */           return batch.getValueRow(buckets[idx]);
/* 103 */         }
/* 104 */         idx = (idx + 1) & (numBuckets - 1);
/* 105 */         step++;
/* 106 */       }
/* 107 */       // Didn't find it
/* 108 */       return null;
/* 109 */     }
/* 110 */
/* 111 */     private boolean equals(int idx, int hashAgg_key_0, int hashAgg_key_1) {
/* 112 */       UnsafeRow row = batch.getKeyRow(buckets[idx]);
/* 113 */       return (row.getInt(0) == hashAgg_key_0) && (row.getInt(1) == hashAgg_key_1);
/* 114 */     }
/* 115 */
/* 116 */     private long hash(int hashAgg_key_0, int hashAgg_key_1) {
/* 117 */       long hashAgg_hash_0 = 0;
/* 118 */
/* 119 */       int hashAgg_result_0 = hashAgg_key_0;
/* 120 */       hashAgg_hash_0 = (hashAgg_hash_0 ^ (0x9e3779b9)) + hashAgg_result_0 + (hashAgg_hash_0 << 6) + (hashAgg_hash_0 >>> 2);
/* 121 */
/* 122 */       int hashAgg_result_1 = hashAgg_key_1;
/* 123 */       hashAgg_hash_0 = (hashAgg_hash_0 ^ (0x9e3779b9)) + hashAgg_result_1 + (hashAgg_hash_0 << 6) + (hashAgg_hash_0 >>> 2);
/* 124 */
/* 125 */       return hashAgg_hash_0;
/* 126 */     }
/* 127 */
/* 128 */     public org.apache.spark.unsafe.KVIterator<UnsafeRow, UnsafeRow> rowIterator() {
/* 129 */       return batch.rowIterator();
/* 130 */     }
/* 131 */
/* 132 */     public void close() {
/* 133 */       batch.close();
/* 134 */     }
/* 135 */
/* 136 */   }
/* 137 */
/* 138 */   private void hashAgg_doAggregate_count_0(org.apache.spark.sql.catalyst.InternalRow hashAgg_unsafeRowAggBuffer_0) throws java.io.IOException {
/* 139 */     long hashAgg_value_19 = hashAgg_unsafeRowAggBuffer_0.getLong(1);
/* 140 */
/* 141 */     long hashAgg_value_18 = -1L;
/* 142 */
/* 143 */     hashAgg_value_18 = org.apache.spark.sql.catalyst.util.MathUtils.addExact(hashAgg_value_19, 1L, ((org.apache.spark.sql.catalyst.trees.SQLQueryContext) references[12] /* errCtx */));
/* 144 */
/* 145 */     hashAgg_unsafeRowAggBuffer_0.setLong(1, hashAgg_value_18);
/* 146 */   }
/* 147 */
/* 148 */   private void hashAgg_doAggregateWithKeysOutput_0(UnsafeRow hashAgg_keyTerm_0, UnsafeRow hashAgg_bufferTerm_0)
/* 149 */   throws java.io.IOException {
/* 150 */     ((org.apache.spark.sql.execution.metric.SQLMetric) references[13] /* numOutputRows */).add(1);
/* 151 */
/* 152 */     boolean hashAgg_isNull_19 = hashAgg_keyTerm_0.isNullAt(0);
/* 153 */     int hashAgg_value_21 = hashAgg_isNull_19 ?
/* 154 */     -1 : (hashAgg_keyTerm_0.getInt(0));
/* 155 */     int hashAgg_value_22 = hashAgg_keyTerm_0.getInt(1);
/* 156 */     boolean hashAgg_isNull_21 = hashAgg_bufferTerm_0.isNullAt(0);
/* 157 */     double hashAgg_value_23 = hashAgg_isNull_21 ?
/* 158 */     -1.0 : (hashAgg_bufferTerm_0.getDouble(0));
/* 159 */     long hashAgg_value_24 = hashAgg_bufferTerm_0.getLong(1);
/* 160 */
/* 161 */     filter_mutableStateArray_0[6].reset();
/* 162 */
/* 163 */     filter_mutableStateArray_0[6].zeroOutNullBytes();
/* 164 */
/* 165 */     if (hashAgg_isNull_19) {
/* 166 */       filter_mutableStateArray_0[6].setNullAt(0);
/* 167 */     } else {
/* 168 */       filter_mutableStateArray_0[6].write(0, hashAgg_value_21);
/* 169 */     }
/* 170 */
/* 171 */     filter_mutableStateArray_0[6].write(1, hashAgg_value_22);
/* 172 */
/* 173 */     if (hashAgg_isNull_21) {
/* 174 */       filter_mutableStateArray_0[6].setNullAt(2);
/* 175 */     } else {
/* 176 */       filter_mutableStateArray_0[6].write(2, hashAgg_value_23);
/* 177 */     }
/* 178 */
/* 179 */     filter_mutableStateArray_0[6].write(3, hashAgg_value_24);
/* 180 */     append((filter_mutableStateArray_0[6].getRow()));
/* 181 */
/* 182 */   }
/* 183 */
/* 184 */   private void wholestagecodegen_init_0_1() {
/* 185 */     filter_mutableStateArray_0[6] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(4, 0);
/* 186 */
/* 187 */   }
/* 188 */
/* 189 */   private void hashAgg_doAggregateWithKeys_0() throws java.io.IOException {
/* 190 */     while ( inputadapter_input_0.hasNext()) {
/* 191 */       InternalRow inputadapter_row_0 = (InternalRow) inputadapter_input_0.next();
/* 192 */
/* 193 */       do {
/* 194 */         ArrayData inputadapter_value_0 = inputadapter_row_0.getArray(0);
/* 195 */
/* 196 */         int filter_value_1 = -1;
/* 197 */         filter_value_1 = (inputadapter_value_0).numElements();
/* 198 */
/* 199 */         boolean filter_value_0 = false;
/* 200 */         filter_value_0 = filter_value_1 > 0;
/* 201 */         if (!filter_value_0) continue;
/* 202 */
/* 203 */         ((org.apache.spark.sql.execution.metric.SQLMetric) references[7] /* numOutputRows */).add(1);
/* 204 */
/* 205 */         // common sub-expressions
/* 206 */
/* 207 */         boolean project_isNull_0 = true;
/* 208 */         int project_value_0 = -1;
/* 209 */         if (!false && !false && !false) {
/* 210 */           ArrayData project_ids_0 = ((ArrayData) references[8] /* literal */);
/* 211 */           ArrayData project_cents_0 = ((ArrayData) references[9] /* literal */);
/* 212 */           ArrayData project_norms_0 = ((ArrayData) references[10] /* literal */);
/* 213 */           int project_k_0 = project_ids_0.numElements();
/* 214 */           if (project_cents_0.numElements() != project_k_0 || project_norms_0.numElements() != project_k_0) {
/* 215 */             throw new IllegalArgumentException("graft_nearest: " + project_k_0 + " ids, " +
/* 216 */               project_cents_0.numElements() + " centroids and " + project_norms_0.numElements() +
/* 217 */               " norms must have equal lengths");
/* 218 */           }
/* 219 */           if (project_k_0 == 1) {
/* 220 */             project_isNull_0 = false;
/* 221 */             project_value_0 = project_ids_0.getInt(0);
/* 222 */           } else if (project_k_0 > 1) {
/* 223 */             boolean inputadapter_isNull_1 = inputadapter_row_0.isNullAt(1);
/* 224 */             double inputadapter_value_1 = inputadapter_isNull_1 ?
/* 225 */             -1.0 : (inputadapter_row_0.getDouble(1));
/* 226 */             if (!false && !inputadapter_isNull_1) {
/* 227 */               double project_best_0 = 0.0;
/* 228 */               for (int project_j_0 = 0; project_j_0 < project_k_0; project_j_0++) {
/* 229 */                 if (project_cents_0.isNullAt(project_j_0) || project_norms_0.isNullAt(project_j_0)) continue;
/* 230 */                 ArrayData project_c_0 = project_cents_0.getArray(project_j_0);
/* 231 */                 int project_n_0 = java.lang.Math.min(inputadapter_value_0.numElements(), project_c_0.numElements());
/* 232 */                 double project_dot_0 = 0.0;
/* 233 */                 int project_i_0 = 0;
/* 234 */                 for (; project_i_0 < project_n_0 && !inputadapter_value_0.isNullAt(project_i_0) && !project_c_0.isNullAt(project_i_0); project_i_0++) {
/* 235 */                   project_dot_0 += inputadapter_value_0.getDouble(project_i_0) * project_c_0.getDouble(project_i_0);
/* 236 */                 }
/* 237 */                 if (project_i_0 < project_n_0) continue;
/* 238 */                 double project_d_0 = inputadapter_value_1 - 2.0 * project_dot_0 + project_norms_0.getDouble(project_j_0);
/* 239 */                 if (project_isNull_0 || org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(project_best_0, project_d_0) > 0) {
/* 240 */                   project_isNull_0 = false;
/* 241 */                   project_best_0 = project_d_0;
/* 242 */                   project_value_0 = project_ids_0.getInt(project_j_0);
/* 243 */                 }
/* 244 */               }
/* 245 */             }
/* 246 */           }
/* 247 */         }
/* 248 */
/* 249 */         generate_doConsume_0(project_value_0, project_isNull_0, inputadapter_value_0);
/* 250 */
/* 251 */       } while (false);
/* 252 */       // shouldStop check is eliminated
/* 253 */     }
/* 254 */
/* 255 */     hashAgg_fastHashMapIter_0 = hashAgg_fastHashMap_0.rowIterator();
/* 256 */     hashAgg_mapIter_0 = ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).finishAggregate(hashAgg_hashMap_0, hashAgg_sorter_0, ((org.apache.spark.sql.execution.metric.SQLMetric) references[3] /* peakMemory */), ((org.apache.spark.sql.execution.metric.SQLMetric) references[4] /* spillSize */), ((org.apache.spark.sql.execution.metric.SQLMetric) references[5] /* avgHashProbe */), ((org.apache.spark.sql.execution.metric.SQLMetric) references[6] /* numTasksFallBacked */));
/* 257 */
/* 258 */   }
/* 259 */
/* 260 */   private void hashAgg_doAggregate_sum_0(boolean hashAgg_exprIsNull_2_0, org.apache.spark.sql.catalyst.InternalRow hashAgg_unsafeRowAggBuffer_0, double hashAgg_expr_2_0) throws java.io.IOException {
/* 261 */     hashAgg_hashAgg_isNull_9_0 = true;
/* 262 */     double hashAgg_value_11 = -1.0;
/* 263 */     do {
/* 264 */       boolean hashAgg_isNull_10 = true;
/* 265 */       double hashAgg_value_12 = -1.0;
/* 266 */       hashAgg_hashAgg_isNull_11_0 = true;
/* 267 */       double hashAgg_value_13 = -1.0;
/* 268 */       do {
/* 269 */         boolean hashAgg_isNull_12 = hashAgg_unsafeRowAggBuffer_0.isNullAt(0);
/* 270 */         double hashAgg_value_14 = hashAgg_isNull_12 ?
/* 271 */         -1.0 : (hashAgg_unsafeRowAggBuffer_0.getDouble(0));
/* 272 */         if (!hashAgg_isNull_12) {
/* 273 */           hashAgg_hashAgg_isNull_11_0 = false;
/* 274 */           hashAgg_value_13 = hashAgg_value_14;
/* 275 */           continue;
/* 276 */         }
/* 277 */
/* 278 */         if (!false) {
/* 279 */           hashAgg_hashAgg_isNull_11_0 = false;
/* 280 */           hashAgg_value_13 = 0.0D;
/* 281 */           continue;
/* 282 */         }
/* 283 */
/* 284 */       } while (false);
/* 285 */
/* 286 */       if (!hashAgg_exprIsNull_2_0) {
/* 287 */         hashAgg_isNull_10 = false; // resultCode could change nullability.
/* 288 */
/* 289 */         hashAgg_value_12 = hashAgg_value_13 + hashAgg_expr_2_0;
/* 290 */
/* 291 */       }
/* 292 */       if (!hashAgg_isNull_10) {
/* 293 */         hashAgg_hashAgg_isNull_9_0 = false;
/* 294 */         hashAgg_value_11 = hashAgg_value_12;
/* 295 */         continue;
/* 296 */       }
/* 297 */
/* 298 */       boolean hashAgg_isNull_15 = hashAgg_unsafeRowAggBuffer_0.isNullAt(0);
/* 299 */       double hashAgg_value_17 = hashAgg_isNull_15 ?
/* 300 */       -1.0 : (hashAgg_unsafeRowAggBuffer_0.getDouble(0));
/* 301 */       if (!hashAgg_isNull_15) {
/* 302 */         hashAgg_hashAgg_isNull_9_0 = false;
/* 303 */         hashAgg_value_11 = hashAgg_value_17;
/* 304 */         continue;
/* 305 */       }
/* 306 */
/* 307 */     } while (false);
/* 308 */
/* 309 */     if (!hashAgg_hashAgg_isNull_9_0) {
/* 310 */       hashAgg_unsafeRowAggBuffer_0.setDouble(0, hashAgg_value_11);
/* 311 */     } else {
/* 312 */       hashAgg_unsafeRowAggBuffer_0.setNullAt(0);
/* 313 */     }
/* 314 */   }
/* 315 */
/* 316 */   private void hashAgg_doConsume_0(int hashAgg_expr_0_0, boolean hashAgg_exprIsNull_0_0, int hashAgg_expr_1_0, double hashAgg_expr_2_0, boolean hashAgg_exprIsNull_2_0) throws java.io.IOException {
/* 317 */     UnsafeRow hashAgg_unsafeRowAggBuffer_0 = null;
/* 318 */     UnsafeRow hashAgg_fastAggBuffer_0 = null;
/* 319 */
/* 320 */     if (!hashAgg_exprIsNull_0_0 && !false) {
/* 321 */       hashAgg_fastAggBuffer_0 = hashAgg_fastHashMap_0.findOrInsert(
/* 322 */         hashAgg_expr_0_0, hashAgg_expr_1_0);
/* 323 */     }
/* 324 */     // Cannot find the key in fast hash map, try regular hash map.
/* 325 */     if (hashAgg_fastAggBuffer_0 == null) {
/* 326 */       // generate grouping key
/* 327 */       filter_mutableStateArray_0[5].reset();
/* 328 */
/* 329 */       filter_mutableStateArray_0[5].zeroOutNullBytes();
/* 330 */
/* 331 */       if (hashAgg_exprIsNull_0_0) {
/* 332 */         filter_mutableStateArray_0[5].setNullAt(0);
/* 333 */       } else {
/* 334 */         filter_mutableStateArray_0[5].write(0, hashAgg_expr_0_0);
/* 335 */       }
/* 336 */
/* 337 */       filter_mutableStateArray_0[5].write(1, hashAgg_expr_1_0);
/* 338 */       int hashAgg_unsafeRowKeyHash_0 = (filter_mutableStateArray_0[5].getRow()).hashCode();
/* 339 */       if (true) {
/* 340 */         // try to get the buffer from hash map
/* 341 */         hashAgg_unsafeRowAggBuffer_0 =
/* 342 */         hashAgg_hashMap_0.getAggregationBufferFromUnsafeRow((filter_mutableStateArray_0[5].getRow()), hashAgg_unsafeRowKeyHash_0);
/* 343 */       }
/* 344 */       // Can't allocate buffer from the hash map. Spill the map and fallback to sort-based
/* 345 */       // aggregation after processing all input rows.
/* 346 */       if (hashAgg_unsafeRowAggBuffer_0 == null) {
/* 347 */         if (hashAgg_sorter_0 == null) {
/* 348 */           hashAgg_sorter_0 = hashAgg_hashMap_0.destructAndCreateExternalSorter();
/* 349 */         } else {
/* 350 */           hashAgg_sorter_0.merge(hashAgg_hashMap_0.destructAndCreateExternalSorter());
/* 351 */         }
/* 352 */
/* 353 */         // the hash map had be spilled, it should have enough memory now,
/* 354 */         // try to allocate buffer again.
/* 355 */         hashAgg_unsafeRowAggBuffer_0 = hashAgg_hashMap_0.getAggregationBufferFromUnsafeRow(
/* 356 */           (filter_mutableStateArray_0[5].getRow()), hashAgg_unsafeRowKeyHash_0);
/* 357 */         if (hashAgg_unsafeRowAggBuffer_0 == null) {
/* 358 */           // failed to allocate the first page
/* 359 */           throw new org.apache.spark.memory.SparkOutOfMemoryError("AGGREGATE_OUT_OF_MEMORY", new java.util.HashMap());
/* 360 */         }
/* 361 */       }
/* 362 */
/* 363 */     }
/* 364 */
/* 365 */     // Updates the proper row buffer
/* 366 */     if (hashAgg_fastAggBuffer_0 != null) {
/* 367 */       hashAgg_unsafeRowAggBuffer_0 = hashAgg_fastAggBuffer_0;
/* 368 */     }
/* 369 */
/* 370 */     // common sub-expressions
/* 371 */
/* 372 */     // evaluate aggregate functions and update aggregation buffers
/* 373 */     hashAgg_doAggregate_sum_0(hashAgg_exprIsNull_2_0, hashAgg_unsafeRowAggBuffer_0, hashAgg_expr_2_0);
/* 374 */     hashAgg_doAggregate_count_0(hashAgg_unsafeRowAggBuffer_0);
/* 375 */
/* 376 */   }
/* 377 */
/* 378 */   private void wholestagecodegen_init_0_0() {
/* 379 */     inputadapter_input_0 = inputs[0];
/* 380 */     filter_mutableStateArray_0[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 381 */     filter_mutableStateArray_1[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[0], 8);
/* 382 */     filter_mutableStateArray_0[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 383 */     filter_mutableStateArray_1[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[1], 8);
/* 384 */     filter_mutableStateArray_0[2] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 385 */     filter_mutableStateArray_1[2] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[2], 8);
/* 386 */     filter_mutableStateArray_0[3] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 0);
/* 387 */     filter_mutableStateArray_0[4] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 0);
/* 388 */     filter_mutableStateArray_0[5] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 0);
/* 389 */
/* 390 */   }
/* 391 */
/* 392 */   protected void processNext() throws java.io.IOException {
/* 393 */     if (!hashAgg_initAgg_0) {
/* 394 */       hashAgg_initAgg_0 = true;
/* 395 */       hashAgg_fastHashMap_0 = new hashAgg_FastHashMap_0(((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).getTaskContext().taskMemoryManager(), ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).getEmptyAggregationBuffer());
/* 396 */
/* 397 */       ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).getTaskContext().addTaskCompletionListener(
/* 398 */         new org.apache.spark.util.TaskCompletionListener() {
/* 399 */           @Override
/* 400 */           public void onTaskCompletion(org.apache.spark.TaskContext context) {
/* 401 */             hashAgg_fastHashMap_0.close();
/* 402 */           }
/* 403 */         });
/* 404 */
/* 405 */       hashAgg_hashMap_0 = ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).createHashMap();
/* 406 */       long wholestagecodegen_beforeAgg_0 = System.nanoTime();
/* 407 */       hashAgg_doAggregateWithKeys_0();
/* 408 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[14] /* aggTime */).add((System.nanoTime() - wholestagecodegen_beforeAgg_0) / 1000000);
/* 409 */     }
/* 410 */     // output the result
/* 411 */
/* 412 */     while ( hashAgg_fastHashMapIter_0.next()) {
/* 413 */       UnsafeRow hashAgg_aggKey_0 = (UnsafeRow) hashAgg_fastHashMapIter_0.getKey();
/* 414 */       UnsafeRow hashAgg_aggBuffer_0 = (UnsafeRow) hashAgg_fastHashMapIter_0.getValue();
/* 415 */       hashAgg_doAggregateWithKeysOutput_0(hashAgg_aggKey_0, hashAgg_aggBuffer_0);
/* 416 */
/* 417 */       if (shouldStop()) return;
/* 418 */     }
/* 419 */     hashAgg_fastHashMap_0.close();
/* 420 */
/* 421 */     while ( hashAgg_mapIter_0.next()) {
/* 422 */       UnsafeRow hashAgg_aggKey_0 = (UnsafeRow) hashAgg_mapIter_0.getKey();
/* 423 */       UnsafeRow hashAgg_aggBuffer_0 = (UnsafeRow) hashAgg_mapIter_0.getValue();
/* 424 */       hashAgg_doAggregateWithKeysOutput_0(hashAgg_aggKey_0, hashAgg_aggBuffer_0);
/* 425 */       if (shouldStop()) return;
/* 426 */     }
/* 427 */     hashAgg_mapIter_0.close();
/* 428 */     if (hashAgg_sorter_0 == null) {
/* 429 */       hashAgg_hashMap_0.free();
/* 430 */     }
/* 431 */   }
/* 432 */
/* 433 */   private void generate_doConsume_0(int generate_expr_0_0, boolean generate_exprIsNull_0_0, ArrayData generate_expr_1_0) throws java.io.IOException {
/* 434 */     int generate_numElements_1 = false ? 0 : generate_expr_1_0.numElements();
/* 435 */     for (int generate_index_1 = 0; generate_index_1 < generate_numElements_1; generate_index_1++) {
/* 436 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[11] /* numOutputRows */).add(1);
/* 437 */
/* 438 */       boolean generate_isNull_4 = generate_expr_1_0.isNullAt(generate_index_1);
/* 439 */       double generate_col_0 = generate_isNull_4 ? -1.0 : generate_expr_1_0.getDouble(generate_index_1);
/* 440 */
/* 441 */       hashAgg_doConsume_0(generate_expr_0_0, generate_exprIsNull_0_0, generate_index_1, generate_col_0, generate_isNull_4);
/* 442 */
/* 443 */     }
/* 444 */
/* 445 */   }
/* 446 */
/* 447 */ }

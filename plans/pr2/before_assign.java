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
/* 020 */   private boolean project_project_isNull_11_0;
/* 021 */   private double project_subExprValue_0;
/* 022 */   private boolean project_subExprIsNull_0;
/* 023 */   private boolean project_project_isNull_48_0;
/* 024 */   private double project_subExprValue_1;
/* 025 */   private boolean project_subExprIsNull_1;
/* 026 */   private boolean project_project_isNull_76_0;
/* 027 */   private boolean hashAgg_hashAgg_isNull_9_0;
/* 028 */   private boolean hashAgg_hashAgg_isNull_11_0;
/* 029 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter[] filter_mutableStateArray_1 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter[4];
/* 030 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[] filter_mutableStateArray_0 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[8];
/* 031 */
/* 032 */   public GeneratedIteratorForCodegenStage1(Object[] references) {
/* 033 */     this.references = references;
/* 034 */   }
/* 035 */
/* 036 */   public void init(int index, scala.collection.Iterator[] inputs) {
/* 037 */     partitionIndex = index;
/* 038 */     this.inputs = inputs;
/* 039 */     wholestagecodegen_init_0_0();
/* 040 */     wholestagecodegen_init_0_1();
/* 041 */
/* 042 */   }
/* 043 */
/* 044 */   public class hashAgg_FastHashMap_0 {
/* 045 */     private org.apache.spark.sql.catalyst.expressions.RowBasedKeyValueBatch batch;
/* 046 */     private int[] buckets;
/* 047 */     private int capacity = 1 << 16;
/* 048 */     private double loadFactor = 0.5;
/* 049 */     private int numBuckets = (int) (capacity / loadFactor);
/* 050 */     private int maxSteps = 2;
/* 051 */     private int numRows = 0;
/* 052 */     private Object emptyVBase;
/* 053 */     private long emptyVOff;
/* 054 */     private int emptyVLen;
/* 055 */     private boolean isBatchFull = false;
/* 056 */     private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter agg_rowWriter;
/* 057 */
/* 058 */     public hashAgg_FastHashMap_0(
/* 059 */       org.apache.spark.memory.TaskMemoryManager taskMemoryManager,
/* 060 */       InternalRow emptyAggregationBuffer) {
/* 061 */       batch = org.apache.spark.sql.catalyst.expressions.RowBasedKeyValueBatch
/* 062 */       .allocate(((org.apache.spark.sql.types.StructType) references[1] /* keySchemaTerm */), ((org.apache.spark.sql.types.StructType) references[2] /* valueSchemaTerm */), taskMemoryManager, capacity);
/* 063 */
/* 064 */       final UnsafeProjection valueProjection = UnsafeProjection.create(((org.apache.spark.sql.types.StructType) references[2] /* valueSchemaTerm */));
/* 065 */       final byte[] emptyBuffer = valueProjection.apply(emptyAggregationBuffer).getBytes();
/* 066 */
/* 067 */       emptyVBase = emptyBuffer;
/* 068 */       emptyVOff = Platform.BYTE_ARRAY_OFFSET;
/* 069 */       emptyVLen = emptyBuffer.length;
/* 070 */
/* 071 */       agg_rowWriter = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(
/* 072 */         2, 0);
/* 073 */
/* 074 */       buckets = new int[numBuckets];
/* 075 */       java.util.Arrays.fill(buckets, -1);
/* 076 */     }
/* 077 */
/* 078 */     public org.apache.spark.sql.catalyst.expressions.UnsafeRow findOrInsert(int hashAgg_key_0, int hashAgg_key_1) {
/* 079 */       long h = hash(hashAgg_key_0, hashAgg_key_1);
/* 080 */       int step = 0;
/* 081 */       int idx = (int) h & (numBuckets - 1);
/* 082 */       while (step < maxSteps) {
/* 083 */         // Return bucket index if it's either an empty slot or already contains the key
/* 084 */         if (buckets[idx] == -1) {
/* 085 */           if (numRows < capacity && !isBatchFull) {
/* 086 */             agg_rowWriter.reset();
/* 087 */             agg_rowWriter.zeroOutNullBytes();
/* 088 */             agg_rowWriter.write(0, hashAgg_key_0);
/* 089 */             agg_rowWriter.write(1, hashAgg_key_1);
/* 090 */             org.apache.spark.sql.catalyst.expressions.UnsafeRow agg_result
/* 091 */             = agg_rowWriter.getRow();
/* 092 */             Object kbase = agg_result.getBaseObject();
/* 093 */             long koff = agg_result.getBaseOffset();
/* 094 */             int klen = agg_result.getSizeInBytes();
/* 095 */
/* 096 */             UnsafeRow vRow
/* 097 */             = batch.appendRow(kbase, koff, klen, emptyVBase, emptyVOff, emptyVLen);
/* 098 */             if (vRow == null) {
/* 099 */               isBatchFull = true;
/* 100 */             } else {
/* 101 */               buckets[idx] = numRows++;
/* 102 */             }
/* 103 */             return vRow;
/* 104 */           } else {
/* 105 */             // No more space
/* 106 */             return null;
/* 107 */           }
/* 108 */         } else if (equals(idx, hashAgg_key_0, hashAgg_key_1)) {
/* 109 */           return batch.getValueRow(buckets[idx]);
/* 110 */         }
/* 111 */         idx = (idx + 1) & (numBuckets - 1);
/* 112 */         step++;
/* 113 */       }
/* 114 */       // Didn't find it
/* 115 */       return null;
/* 116 */     }
/* 117 */
/* 118 */     private boolean equals(int idx, int hashAgg_key_0, int hashAgg_key_1) {
/* 119 */       UnsafeRow row = batch.getKeyRow(buckets[idx]);
/* 120 */       return (row.getInt(0) == hashAgg_key_0) && (row.getInt(1) == hashAgg_key_1);
/* 121 */     }
/* 122 */
/* 123 */     private long hash(int hashAgg_key_0, int hashAgg_key_1) {
/* 124 */       long hashAgg_hash_0 = 0;
/* 125 */
/* 126 */       int hashAgg_result_0 = hashAgg_key_0;
/* 127 */       hashAgg_hash_0 = (hashAgg_hash_0 ^ (0x9e3779b9)) + hashAgg_result_0 + (hashAgg_hash_0 << 6) + (hashAgg_hash_0 >>> 2);
/* 128 */
/* 129 */       int hashAgg_result_1 = hashAgg_key_1;
/* 130 */       hashAgg_hash_0 = (hashAgg_hash_0 ^ (0x9e3779b9)) + hashAgg_result_1 + (hashAgg_hash_0 << 6) + (hashAgg_hash_0 >>> 2);
/* 131 */
/* 132 */       return hashAgg_hash_0;
/* 133 */     }
/* 134 */
/* 135 */     public org.apache.spark.unsafe.KVIterator<UnsafeRow, UnsafeRow> rowIterator() {
/* 136 */       return batch.rowIterator();
/* 137 */     }
/* 138 */
/* 139 */     public void close() {
/* 140 */       batch.close();
/* 141 */     }
/* 142 */
/* 143 */   }
/* 144 */
/* 145 */   private void hashAgg_doAggregate_count_0(org.apache.spark.sql.catalyst.InternalRow hashAgg_unsafeRowAggBuffer_0) throws java.io.IOException {
/* 146 */     long hashAgg_value_19 = hashAgg_unsafeRowAggBuffer_0.getLong(1);
/* 147 */
/* 148 */     long hashAgg_value_18 = -1L;
/* 149 */
/* 150 */     hashAgg_value_18 = org.apache.spark.sql.catalyst.util.MathUtils.addExact(hashAgg_value_19, 1L, ((org.apache.spark.sql.catalyst.trees.SQLQueryContext) references[20] /* errCtx */));
/* 151 */
/* 152 */     hashAgg_unsafeRowAggBuffer_0.setLong(1, hashAgg_value_18);
/* 153 */   }
/* 154 */
/* 155 */   private void wholestagecodegen_init_0_1() {
/* 156 */     filter_mutableStateArray_0[4] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 0);
/* 157 */     filter_mutableStateArray_0[5] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 0);
/* 158 */     filter_mutableStateArray_0[6] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 0);
/* 159 */     filter_mutableStateArray_0[7] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(4, 0);
/* 160 */
/* 161 */   }
/* 162 */
/* 163 */   private void hashAgg_doAggregate_sum_0(boolean hashAgg_exprIsNull_2_0, org.apache.spark.sql.catalyst.InternalRow hashAgg_unsafeRowAggBuffer_0, double hashAgg_expr_2_0) throws java.io.IOException {
/* 164 */     hashAgg_hashAgg_isNull_9_0 = true;
/* 165 */     double hashAgg_value_11 = -1.0;
/* 166 */     do {
/* 167 */       boolean hashAgg_isNull_10 = true;
/* 168 */       double hashAgg_value_12 = -1.0;
/* 169 */       hashAgg_hashAgg_isNull_11_0 = true;
/* 170 */       double hashAgg_value_13 = -1.0;
/* 171 */       do {
/* 172 */         boolean hashAgg_isNull_12 = hashAgg_unsafeRowAggBuffer_0.isNullAt(0);
/* 173 */         double hashAgg_value_14 = hashAgg_isNull_12 ?
/* 174 */         -1.0 : (hashAgg_unsafeRowAggBuffer_0.getDouble(0));
/* 175 */         if (!hashAgg_isNull_12) {
/* 176 */           hashAgg_hashAgg_isNull_11_0 = false;
/* 177 */           hashAgg_value_13 = hashAgg_value_14;
/* 178 */           continue;
/* 179 */         }
/* 180 */
/* 181 */         if (!false) {
/* 182 */           hashAgg_hashAgg_isNull_11_0 = false;
/* 183 */           hashAgg_value_13 = 0.0D;
/* 184 */           continue;
/* 185 */         }
/* 186 */
/* 187 */       } while (false);
/* 188 */
/* 189 */       if (!hashAgg_exprIsNull_2_0) {
/* 190 */         hashAgg_isNull_10 = false; // resultCode could change nullability.
/* 191 */
/* 192 */         hashAgg_value_12 = hashAgg_value_13 + hashAgg_expr_2_0;
/* 193 */
/* 194 */       }
/* 195 */       if (!hashAgg_isNull_10) {
/* 196 */         hashAgg_hashAgg_isNull_9_0 = false;
/* 197 */         hashAgg_value_11 = hashAgg_value_12;
/* 198 */         continue;
/* 199 */       }
/* 200 */
/* 201 */       boolean hashAgg_isNull_15 = hashAgg_unsafeRowAggBuffer_0.isNullAt(0);
/* 202 */       double hashAgg_value_17 = hashAgg_isNull_15 ?
/* 203 */       -1.0 : (hashAgg_unsafeRowAggBuffer_0.getDouble(0));
/* 204 */       if (!hashAgg_isNull_15) {
/* 205 */         hashAgg_hashAgg_isNull_9_0 = false;
/* 206 */         hashAgg_value_11 = hashAgg_value_17;
/* 207 */         continue;
/* 208 */       }
/* 209 */
/* 210 */     } while (false);
/* 211 */
/* 212 */     if (!hashAgg_hashAgg_isNull_9_0) {
/* 213 */       hashAgg_unsafeRowAggBuffer_0.setDouble(0, hashAgg_value_11);
/* 214 */     } else {
/* 215 */       hashAgg_unsafeRowAggBuffer_0.setNullAt(0);
/* 216 */     }
/* 217 */   }
/* 218 */
/* 219 */   private void project_doConsume_0(ArrayData project_expr_0_0, double project_expr_1_0, boolean project_exprIsNull_1_0) throws java.io.IOException {
/* 220 */     // common sub-expressions
/* 221 */
/* 222 */     project_subExpr_0(project_expr_0_0, project_exprIsNull_1_0, project_expr_1_0);
/* 223 */
/* 224 */     project_subExpr_1(project_expr_0_0, project_exprIsNull_1_0, project_expr_1_0);
/* 225 */
/* 226 */     project_project_isNull_76_0 = true;
/* 227 */     int project_value_76 = -1;
/* 228 */     do {
/* 229 */       boolean project_isNull_78 = true;
/* 230 */       boolean project_value_78 = false;
/* 231 */
/* 232 */       if (!project_subExprIsNull_0) {
/* 233 */         if (!project_subExprIsNull_1) {
/* 234 */           project_isNull_78 = false; // resultCode could change nullability.
/* 235 */           project_value_78 = ((java.lang.Double.isNaN(project_subExprValue_0) && java.lang.Double.isNaN(project_subExprValue_1)) || project_subExprValue_0 == project_subExprValue_1);
/* 236 */
/* 237 */         }
/* 238 */
/* 239 */       }
/* 240 */       boolean project_isNull_77 = false;
/* 241 */       int project_value_77 = -1;
/* 242 */       if (!project_isNull_78 && project_value_78) {
/* 243 */         project_isNull_77 = false;
/* 244 */         project_value_77 = 0;
/* 245 */       } else {
/* 246 */         project_isNull_77 = true;
/* 247 */         project_value_77 = -1;
/* 248 */       }
/* 249 */       if (!project_isNull_77) {
/* 250 */         project_project_isNull_76_0 = false;
/* 251 */         project_value_76 = project_value_77;
/* 252 */         continue;
/* 253 */       }
/* 254 */
/* 255 */       boolean project_isNull_82 = true;
/* 256 */       boolean project_value_82 = false;
/* 257 */       boolean project_isNull_83 = true;
/* 258 */       double project_value_83 = -1.0;
/* 259 */       boolean project_isNull_84 = true;
/* 260 */       double project_value_84 = -1.0;
/* 261 */
/* 262 */       if (!project_exprIsNull_1_0) {
/* 263 */         boolean project_isNull_86 = true;
/* 264 */         double project_value_86 = -1.0;
/* 265 */
/* 266 */         boolean project_isNull_88 = true;
/* 267 */         double project_value_88 = -1.0;
/* 268 */
/* 269 */         project_isNull_88 = false; // resultCode could change nullability.
/* 270 */
/* 271 */         int project_n_8 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[16] /* literal */).numElements());
/* 272 */         double project_acc_8 = 0.0;
/* 273 */         for (int project_i_8 = 0; project_i_8 < project_n_8 && !project_isNull_88; project_i_8++) {
/* 274 */           if (project_expr_0_0.isNullAt(project_i_8) || ((ArrayData) references[16] /* literal */).isNullAt(project_i_8)) {
/* 275 */             project_isNull_88 = true;
/* 276 */           } else {
/* 277 */             project_acc_8 += project_expr_0_0.getDouble(project_i_8) * ((ArrayData) references[16] /* literal */).getDouble(project_i_8);
/* 278 */           }
/* 279 */         }
/* 280 */         project_value_88 = project_acc_8;
/* 281 */         if (!project_isNull_88) {
/* 282 */           project_isNull_86 = false; // resultCode could change nullability.
/* 283 */
/* 284 */           project_value_86 = 2.0D * project_value_88;
/* 285 */
/* 286 */         }
/* 287 */         if (!project_isNull_86) {
/* 288 */           project_isNull_84 = false; // resultCode could change nullability.
/* 289 */
/* 290 */           project_value_84 = project_expr_1_0 - project_value_86;
/* 291 */
/* 292 */         }
/* 293 */
/* 294 */       }
/* 295 */       if (!project_isNull_84) {
/* 296 */         project_isNull_83 = false; // resultCode could change nullability.
/* 297 */
/* 298 */         project_value_83 = project_value_84 + 1.000000145857E12D;
/* 299 */
/* 300 */       }
/* 301 */       if (!project_isNull_83) {
/* 302 */         if (!project_subExprIsNull_1) {
/* 303 */           project_isNull_82 = false; // resultCode could change nullability.
/* 304 */           project_value_82 = ((java.lang.Double.isNaN(project_value_83) && java.lang.Double.isNaN(project_subExprValue_1)) || project_value_83 == project_subExprValue_1);
/* 305 */
/* 306 */         }
/* 307 */
/* 308 */       }
/* 309 */       boolean project_isNull_81 = false;
/* 310 */       int project_value_81 = -1;
/* 311 */       if (!project_isNull_82 && project_value_82) {
/* 312 */         project_isNull_81 = false;
/* 313 */         project_value_81 = 1;
/* 314 */       } else {
/* 315 */         project_isNull_81 = true;
/* 316 */         project_value_81 = -1;
/* 317 */       }
/* 318 */       if (!project_isNull_81) {
/* 319 */         project_project_isNull_76_0 = false;
/* 320 */         project_value_76 = project_value_81;
/* 321 */         continue;
/* 322 */       }
/* 323 */
/* 324 */       boolean project_isNull_95 = true;
/* 325 */       boolean project_value_95 = false;
/* 326 */       boolean project_isNull_96 = true;
/* 327 */       double project_value_96 = -1.0;
/* 328 */       boolean project_isNull_97 = true;
/* 329 */       double project_value_97 = -1.0;
/* 330 */
/* 331 */       if (!project_exprIsNull_1_0) {
/* 332 */         boolean project_isNull_99 = true;
/* 333 */         double project_value_99 = -1.0;
/* 334 */
/* 335 */         boolean project_isNull_101 = true;
/* 336 */         double project_value_101 = -1.0;
/* 337 */
/* 338 */         project_isNull_101 = false; // resultCode could change nullability.
/* 339 */
/* 340 */         int project_n_9 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[17] /* literal */).numElements());
/* 341 */         double project_acc_9 = 0.0;
/* 342 */         for (int project_i_9 = 0; project_i_9 < project_n_9 && !project_isNull_101; project_i_9++) {
/* 343 */           if (project_expr_0_0.isNullAt(project_i_9) || ((ArrayData) references[17] /* literal */).isNullAt(project_i_9)) {
/* 344 */             project_isNull_101 = true;
/* 345 */           } else {
/* 346 */             project_acc_9 += project_expr_0_0.getDouble(project_i_9) * ((ArrayData) references[17] /* literal */).getDouble(project_i_9);
/* 347 */           }
/* 348 */         }
/* 349 */         project_value_101 = project_acc_9;
/* 350 */         if (!project_isNull_101) {
/* 351 */           project_isNull_99 = false; // resultCode could change nullability.
/* 352 */
/* 353 */           project_value_99 = 2.0D * project_value_101;
/* 354 */
/* 355 */         }
/* 356 */         if (!project_isNull_99) {
/* 357 */           project_isNull_97 = false; // resultCode could change nullability.
/* 358 */
/* 359 */           project_value_97 = project_expr_1_0 - project_value_99;
/* 360 */
/* 361 */         }
/* 362 */
/* 363 */       }
/* 364 */       if (!project_isNull_97) {
/* 365 */         project_isNull_96 = false; // resultCode could change nullability.
/* 366 */
/* 367 */         project_value_96 = project_value_97 + 1.000000083304E12D;
/* 368 */
/* 369 */       }
/* 370 */       if (!project_isNull_96) {
/* 371 */         if (!project_subExprIsNull_1) {
/* 372 */           project_isNull_95 = false; // resultCode could change nullability.
/* 373 */           project_value_95 = ((java.lang.Double.isNaN(project_value_96) && java.lang.Double.isNaN(project_subExprValue_1)) || project_value_96 == project_subExprValue_1);
/* 374 */
/* 375 */         }
/* 376 */
/* 377 */       }
/* 378 */       boolean project_isNull_94 = false;
/* 379 */       int project_value_94 = -1;
/* 380 */       if (!project_isNull_95 && project_value_95) {
/* 381 */         project_isNull_94 = false;
/* 382 */         project_value_94 = 2;
/* 383 */       } else {
/* 384 */         project_isNull_94 = true;
/* 385 */         project_value_94 = -1;
/* 386 */       }
/* 387 */       if (!project_isNull_94) {
/* 388 */         project_project_isNull_76_0 = false;
/* 389 */         project_value_76 = project_value_94;
/* 390 */         continue;
/* 391 */       }
/* 392 */
/* 393 */       boolean project_isNull_108 = true;
/* 394 */       boolean project_value_108 = false;
/* 395 */       boolean project_isNull_109 = true;
/* 396 */       double project_value_109 = -1.0;
/* 397 */       boolean project_isNull_110 = true;
/* 398 */       double project_value_110 = -1.0;
/* 399 */
/* 400 */       if (!project_exprIsNull_1_0) {
/* 401 */         boolean project_isNull_112 = true;
/* 402 */         double project_value_112 = -1.0;
/* 403 */
/* 404 */         boolean project_isNull_114 = true;
/* 405 */         double project_value_114 = -1.0;
/* 406 */
/* 407 */         project_isNull_114 = false; // resultCode could change nullability.
/* 408 */
/* 409 */         int project_n_10 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[18] /* literal */).numElements());
/* 410 */         double project_acc_10 = 0.0;
/* 411 */         for (int project_i_10 = 0; project_i_10 < project_n_10 && !project_isNull_114; project_i_10++) {
/* 412 */           if (project_expr_0_0.isNullAt(project_i_10) || ((ArrayData) references[18] /* literal */).isNullAt(project_i_10)) {
/* 413 */             project_isNull_114 = true;
/* 414 */           } else {
/* 415 */             project_acc_10 += project_expr_0_0.getDouble(project_i_10) * ((ArrayData) references[18] /* literal */).getDouble(project_i_10);
/* 416 */           }
/* 417 */         }
/* 418 */         project_value_114 = project_acc_10;
/* 419 */         if (!project_isNull_114) {
/* 420 */           project_isNull_112 = false; // resultCode could change nullability.
/* 421 */
/* 422 */           project_value_112 = 2.0D * project_value_114;
/* 423 */
/* 424 */         }
/* 425 */         if (!project_isNull_112) {
/* 426 */           project_isNull_110 = false; // resultCode could change nullability.
/* 427 */
/* 428 */           project_value_110 = project_expr_1_0 - project_value_112;
/* 429 */
/* 430 */         }
/* 431 */
/* 432 */       }
/* 433 */       if (!project_isNull_110) {
/* 434 */         project_isNull_109 = false; // resultCode could change nullability.
/* 435 */
/* 436 */         project_value_109 = project_value_110 + 9.99999929429E11D;
/* 437 */
/* 438 */       }
/* 439 */       if (!project_isNull_109) {
/* 440 */         if (!project_subExprIsNull_1) {
/* 441 */           project_isNull_108 = false; // resultCode could change nullability.
/* 442 */           project_value_108 = ((java.lang.Double.isNaN(project_value_109) && java.lang.Double.isNaN(project_subExprValue_1)) || project_value_109 == project_subExprValue_1);
/* 443 */
/* 444 */         }
/* 445 */
/* 446 */       }
/* 447 */       boolean project_isNull_107 = false;
/* 448 */       int project_value_107 = -1;
/* 449 */       if (!project_isNull_108 && project_value_108) {
/* 450 */         project_isNull_107 = false;
/* 451 */         project_value_107 = 3;
/* 452 */       } else {
/* 453 */         project_isNull_107 = true;
/* 454 */         project_value_107 = -1;
/* 455 */       }
/* 456 */       if (!project_isNull_107) {
/* 457 */         project_project_isNull_76_0 = false;
/* 458 */         project_value_76 = project_value_107;
/* 459 */         continue;
/* 460 */       }
/* 461 */
/* 462 */     } while (false);
/* 463 */
/* 464 */     generate_doConsume_0(project_value_76, project_project_isNull_76_0, project_expr_0_0);
/* 465 */
/* 466 */   }
/* 467 */
/* 468 */   private void wholestagecodegen_init_0_0() {
/* 469 */     inputadapter_input_0 = inputs[0];
/* 470 */     filter_mutableStateArray_0[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 471 */     filter_mutableStateArray_1[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[0], 8);
/* 472 */     filter_mutableStateArray_0[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 473 */     filter_mutableStateArray_1[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[1], 8);
/* 474 */     filter_mutableStateArray_0[2] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 475 */     filter_mutableStateArray_1[2] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[2], 8);
/* 476 */     filter_mutableStateArray_0[3] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 477 */     filter_mutableStateArray_1[3] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(filter_mutableStateArray_0[3], 8);
/* 478 */
/* 479 */   }
/* 480 */
/* 481 */   protected void processNext() throws java.io.IOException {
/* 482 */     if (!hashAgg_initAgg_0) {
/* 483 */       hashAgg_initAgg_0 = true;
/* 484 */       hashAgg_fastHashMap_0 = new hashAgg_FastHashMap_0(((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).getTaskContext().taskMemoryManager(), ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).getEmptyAggregationBuffer());
/* 485 */
/* 486 */       ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).getTaskContext().addTaskCompletionListener(
/* 487 */         new org.apache.spark.util.TaskCompletionListener() {
/* 488 */           @Override
/* 489 */           public void onTaskCompletion(org.apache.spark.TaskContext context) {
/* 490 */             hashAgg_fastHashMap_0.close();
/* 491 */           }
/* 492 */         });
/* 493 */
/* 494 */       hashAgg_hashMap_0 = ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).createHashMap();
/* 495 */       long wholestagecodegen_beforeAgg_0 = System.nanoTime();
/* 496 */       hashAgg_doAggregateWithKeys_0();
/* 497 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[22] /* aggTime */).add((System.nanoTime() - wholestagecodegen_beforeAgg_0) / 1000000);
/* 498 */     }
/* 499 */     // output the result
/* 500 */
/* 501 */     while ( hashAgg_fastHashMapIter_0.next()) {
/* 502 */       UnsafeRow hashAgg_aggKey_0 = (UnsafeRow) hashAgg_fastHashMapIter_0.getKey();
/* 503 */       UnsafeRow hashAgg_aggBuffer_0 = (UnsafeRow) hashAgg_fastHashMapIter_0.getValue();
/* 504 */       hashAgg_doAggregateWithKeysOutput_0(hashAgg_aggKey_0, hashAgg_aggBuffer_0);
/* 505 */
/* 506 */       if (shouldStop()) return;
/* 507 */     }
/* 508 */     hashAgg_fastHashMap_0.close();
/* 509 */
/* 510 */     while ( hashAgg_mapIter_0.next()) {
/* 511 */       UnsafeRow hashAgg_aggKey_0 = (UnsafeRow) hashAgg_mapIter_0.getKey();
/* 512 */       UnsafeRow hashAgg_aggBuffer_0 = (UnsafeRow) hashAgg_mapIter_0.getValue();
/* 513 */       hashAgg_doAggregateWithKeysOutput_0(hashAgg_aggKey_0, hashAgg_aggBuffer_0);
/* 514 */       if (shouldStop()) return;
/* 515 */     }
/* 516 */     hashAgg_mapIter_0.close();
/* 517 */     if (hashAgg_sorter_0 == null) {
/* 518 */       hashAgg_hashMap_0.free();
/* 519 */     }
/* 520 */   }
/* 521 */
/* 522 */   private void hashAgg_doAggregateWithKeysOutput_0(UnsafeRow hashAgg_keyTerm_0, UnsafeRow hashAgg_bufferTerm_0)
/* 523 */   throws java.io.IOException {
/* 524 */     ((org.apache.spark.sql.execution.metric.SQLMetric) references[21] /* numOutputRows */).add(1);
/* 525 */
/* 526 */     boolean hashAgg_isNull_19 = hashAgg_keyTerm_0.isNullAt(0);
/* 527 */     int hashAgg_value_21 = hashAgg_isNull_19 ?
/* 528 */     -1 : (hashAgg_keyTerm_0.getInt(0));
/* 529 */     int hashAgg_value_22 = hashAgg_keyTerm_0.getInt(1);
/* 530 */     boolean hashAgg_isNull_21 = hashAgg_bufferTerm_0.isNullAt(0);
/* 531 */     double hashAgg_value_23 = hashAgg_isNull_21 ?
/* 532 */     -1.0 : (hashAgg_bufferTerm_0.getDouble(0));
/* 533 */     long hashAgg_value_24 = hashAgg_bufferTerm_0.getLong(1);
/* 534 */
/* 535 */     filter_mutableStateArray_0[7].reset();
/* 536 */
/* 537 */     filter_mutableStateArray_0[7].zeroOutNullBytes();
/* 538 */
/* 539 */     if (hashAgg_isNull_19) {
/* 540 */       filter_mutableStateArray_0[7].setNullAt(0);
/* 541 */     } else {
/* 542 */       filter_mutableStateArray_0[7].write(0, hashAgg_value_21);
/* 543 */     }
/* 544 */
/* 545 */     filter_mutableStateArray_0[7].write(1, hashAgg_value_22);
/* 546 */
/* 547 */     if (hashAgg_isNull_21) {
/* 548 */       filter_mutableStateArray_0[7].setNullAt(2);
/* 549 */     } else {
/* 550 */       filter_mutableStateArray_0[7].write(2, hashAgg_value_23);
/* 551 */     }
/* 552 */
/* 553 */     filter_mutableStateArray_0[7].write(3, hashAgg_value_24);
/* 554 */     append((filter_mutableStateArray_0[7].getRow()));
/* 555 */
/* 556 */   }
/* 557 */
/* 558 */   private void hashAgg_doAggregateWithKeys_0() throws java.io.IOException {
/* 559 */     while ( inputadapter_input_0.hasNext()) {
/* 560 */       InternalRow inputadapter_row_0 = (InternalRow) inputadapter_input_0.next();
/* 561 */
/* 562 */       do {
/* 563 */         ArrayData inputadapter_value_0 = inputadapter_row_0.getArray(0);
/* 564 */
/* 565 */         int filter_value_1 = -1;
/* 566 */         filter_value_1 = (inputadapter_value_0).numElements();
/* 567 */
/* 568 */         boolean filter_value_0 = false;
/* 569 */         filter_value_0 = filter_value_1 > 0;
/* 570 */         if (!filter_value_0) continue;
/* 571 */
/* 572 */         ((org.apache.spark.sql.execution.metric.SQLMetric) references[7] /* numOutputRows */).add(1);
/* 573 */
/* 574 */         boolean inputadapter_isNull_1 = inputadapter_row_0.isNullAt(1);
/* 575 */         double inputadapter_value_1 = inputadapter_isNull_1 ?
/* 576 */         -1.0 : (inputadapter_row_0.getDouble(1));
/* 577 */
/* 578 */         project_doConsume_0(inputadapter_value_0, inputadapter_value_1, inputadapter_isNull_1);
/* 579 */
/* 580 */       } while (false);
/* 581 */       // shouldStop check is eliminated
/* 582 */     }
/* 583 */
/* 584 */     hashAgg_fastHashMapIter_0 = hashAgg_fastHashMap_0.rowIterator();
/* 585 */     hashAgg_mapIter_0 = ((org.apache.spark.sql.execution.aggregate.HashAggregateExec) references[0] /* plan */).finishAggregate(hashAgg_hashMap_0, hashAgg_sorter_0, ((org.apache.spark.sql.execution.metric.SQLMetric) references[3] /* peakMemory */), ((org.apache.spark.sql.execution.metric.SQLMetric) references[4] /* spillSize */), ((org.apache.spark.sql.execution.metric.SQLMetric) references[5] /* avgHashProbe */), ((org.apache.spark.sql.execution.metric.SQLMetric) references[6] /* numTasksFallBacked */));
/* 586 */
/* 587 */   }
/* 588 */
/* 589 */   private void hashAgg_doConsume_0(int hashAgg_expr_0_0, boolean hashAgg_exprIsNull_0_0, int hashAgg_expr_1_0, double hashAgg_expr_2_0, boolean hashAgg_exprIsNull_2_0) throws java.io.IOException {
/* 590 */     UnsafeRow hashAgg_unsafeRowAggBuffer_0 = null;
/* 591 */     UnsafeRow hashAgg_fastAggBuffer_0 = null;
/* 592 */
/* 593 */     if (!hashAgg_exprIsNull_0_0 && !false) {
/* 594 */       hashAgg_fastAggBuffer_0 = hashAgg_fastHashMap_0.findOrInsert(
/* 595 */         hashAgg_expr_0_0, hashAgg_expr_1_0);
/* 596 */     }
/* 597 */     // Cannot find the key in fast hash map, try regular hash map.
/* 598 */     if (hashAgg_fastAggBuffer_0 == null) {
/* 599 */       // generate grouping key
/* 600 */       filter_mutableStateArray_0[6].reset();
/* 601 */
/* 602 */       filter_mutableStateArray_0[6].zeroOutNullBytes();
/* 603 */
/* 604 */       if (hashAgg_exprIsNull_0_0) {
/* 605 */         filter_mutableStateArray_0[6].setNullAt(0);
/* 606 */       } else {
/* 607 */         filter_mutableStateArray_0[6].write(0, hashAgg_expr_0_0);
/* 608 */       }
/* 609 */
/* 610 */       filter_mutableStateArray_0[6].write(1, hashAgg_expr_1_0);
/* 611 */       int hashAgg_unsafeRowKeyHash_0 = (filter_mutableStateArray_0[6].getRow()).hashCode();
/* 612 */       if (true) {
/* 613 */         // try to get the buffer from hash map
/* 614 */         hashAgg_unsafeRowAggBuffer_0 =
/* 615 */         hashAgg_hashMap_0.getAggregationBufferFromUnsafeRow((filter_mutableStateArray_0[6].getRow()), hashAgg_unsafeRowKeyHash_0);
/* 616 */       }
/* 617 */       // Can't allocate buffer from the hash map. Spill the map and fallback to sort-based
/* 618 */       // aggregation after processing all input rows.
/* 619 */       if (hashAgg_unsafeRowAggBuffer_0 == null) {
/* 620 */         if (hashAgg_sorter_0 == null) {
/* 621 */           hashAgg_sorter_0 = hashAgg_hashMap_0.destructAndCreateExternalSorter();
/* 622 */         } else {
/* 623 */           hashAgg_sorter_0.merge(hashAgg_hashMap_0.destructAndCreateExternalSorter());
/* 624 */         }
/* 625 */
/* 626 */         // the hash map had be spilled, it should have enough memory now,
/* 627 */         // try to allocate buffer again.
/* 628 */         hashAgg_unsafeRowAggBuffer_0 = hashAgg_hashMap_0.getAggregationBufferFromUnsafeRow(
/* 629 */           (filter_mutableStateArray_0[6].getRow()), hashAgg_unsafeRowKeyHash_0);
/* 630 */         if (hashAgg_unsafeRowAggBuffer_0 == null) {
/* 631 */           // failed to allocate the first page
/* 632 */           throw new org.apache.spark.memory.SparkOutOfMemoryError("AGGREGATE_OUT_OF_MEMORY", new java.util.HashMap());
/* 633 */         }
/* 634 */       }
/* 635 */
/* 636 */     }
/* 637 */
/* 638 */     // Updates the proper row buffer
/* 639 */     if (hashAgg_fastAggBuffer_0 != null) {
/* 640 */       hashAgg_unsafeRowAggBuffer_0 = hashAgg_fastAggBuffer_0;
/* 641 */     }
/* 642 */
/* 643 */     // common sub-expressions
/* 644 */
/* 645 */     // evaluate aggregate functions and update aggregation buffers
/* 646 */     hashAgg_doAggregate_sum_0(hashAgg_exprIsNull_2_0, hashAgg_unsafeRowAggBuffer_0, hashAgg_expr_2_0);
/* 647 */     hashAgg_doAggregate_count_0(hashAgg_unsafeRowAggBuffer_0);
/* 648 */
/* 649 */   }
/* 650 */
/* 651 */   private void project_subExpr_1(org.apache.spark.sql.catalyst.util.ArrayData project_expr_0_0, boolean project_exprIsNull_1_0, double project_expr_1_0) {
/* 652 */     project_project_isNull_48_0 = true;
/* 653 */     double project_value_48 = -1.0;
/* 654 */
/* 655 */     if (!project_subExprIsNull_0 && (project_project_isNull_48_0 ||
/* 656 */         (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(project_value_48, project_subExprValue_0)) > 0)) {
/* 657 */       project_project_isNull_48_0 = false;
/* 658 */       project_value_48 = project_subExprValue_0;
/* 659 */     }
/* 660 */
/* 661 */     boolean project_isNull_49 = true;
/* 662 */     double project_value_49 = -1.0;
/* 663 */     boolean project_isNull_50 = true;
/* 664 */     double project_value_50 = -1.0;
/* 665 */
/* 666 */     if (!project_exprIsNull_1_0) {
/* 667 */       boolean project_isNull_52 = true;
/* 668 */       double project_value_52 = -1.0;
/* 669 */
/* 670 */       boolean project_isNull_54 = true;
/* 671 */       double project_value_54 = -1.0;
/* 672 */
/* 673 */       project_isNull_54 = false; // resultCode could change nullability.
/* 674 */
/* 675 */       int project_n_5 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[13] /* literal */).numElements());
/* 676 */       double project_acc_5 = 0.0;
/* 677 */       for (int project_i_5 = 0; project_i_5 < project_n_5 && !project_isNull_54; project_i_5++) {
/* 678 */         if (project_expr_0_0.isNullAt(project_i_5) || ((ArrayData) references[13] /* literal */).isNullAt(project_i_5)) {
/* 679 */           project_isNull_54 = true;
/* 680 */         } else {
/* 681 */           project_acc_5 += project_expr_0_0.getDouble(project_i_5) * ((ArrayData) references[13] /* literal */).getDouble(project_i_5);
/* 682 */         }
/* 683 */       }
/* 684 */       project_value_54 = project_acc_5;
/* 685 */       if (!project_isNull_54) {
/* 686 */         project_isNull_52 = false; // resultCode could change nullability.
/* 687 */
/* 688 */         project_value_52 = 2.0D * project_value_54;
/* 689 */
/* 690 */       }
/* 691 */       if (!project_isNull_52) {
/* 692 */         project_isNull_50 = false; // resultCode could change nullability.
/* 693 */
/* 694 */         project_value_50 = project_expr_1_0 - project_value_52;
/* 695 */
/* 696 */       }
/* 697 */
/* 698 */     }
/* 699 */     if (!project_isNull_50) {
/* 700 */       project_isNull_49 = false; // resultCode could change nullability.
/* 701 */
/* 702 */       project_value_49 = project_value_50 + 1.000000145857E12D;
/* 703 */
/* 704 */     }
/* 705 */
/* 706 */     if (!project_isNull_49 && (project_project_isNull_48_0 ||
/* 707 */         (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(project_value_48, project_value_49)) > 0)) {
/* 708 */       project_project_isNull_48_0 = false;
/* 709 */       project_value_48 = project_value_49;
/* 710 */     }
/* 711 */
/* 712 */     boolean project_isNull_58 = true;
/* 713 */     double project_value_58 = -1.0;
/* 714 */     boolean project_isNull_59 = true;
/* 715 */     double project_value_59 = -1.0;
/* 716 */
/* 717 */     if (!project_exprIsNull_1_0) {
/* 718 */       boolean project_isNull_61 = true;
/* 719 */       double project_value_61 = -1.0;
/* 720 */
/* 721 */       boolean project_isNull_63 = true;
/* 722 */       double project_value_63 = -1.0;
/* 723 */
/* 724 */       project_isNull_63 = false; // resultCode could change nullability.
/* 725 */
/* 726 */       int project_n_6 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[14] /* literal */).numElements());
/* 727 */       double project_acc_6 = 0.0;
/* 728 */       for (int project_i_6 = 0; project_i_6 < project_n_6 && !project_isNull_63; project_i_6++) {
/* 729 */         if (project_expr_0_0.isNullAt(project_i_6) || ((ArrayData) references[14] /* literal */).isNullAt(project_i_6)) {
/* 730 */           project_isNull_63 = true;
/* 731 */         } else {
/* 732 */           project_acc_6 += project_expr_0_0.getDouble(project_i_6) * ((ArrayData) references[14] /* literal */).getDouble(project_i_6);
/* 733 */         }
/* 734 */       }
/* 735 */       project_value_63 = project_acc_6;
/* 736 */       if (!project_isNull_63) {
/* 737 */         project_isNull_61 = false; // resultCode could change nullability.
/* 738 */
/* 739 */         project_value_61 = 2.0D * project_value_63;
/* 740 */
/* 741 */       }
/* 742 */       if (!project_isNull_61) {
/* 743 */         project_isNull_59 = false; // resultCode could change nullability.
/* 744 */
/* 745 */         project_value_59 = project_expr_1_0 - project_value_61;
/* 746 */
/* 747 */       }
/* 748 */
/* 749 */     }
/* 750 */     if (!project_isNull_59) {
/* 751 */       project_isNull_58 = false; // resultCode could change nullability.
/* 752 */
/* 753 */       project_value_58 = project_value_59 + 1.000000083304E12D;
/* 754 */
/* 755 */     }
/* 756 */
/* 757 */     if (!project_isNull_58 && (project_project_isNull_48_0 ||
/* 758 */         (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(project_value_48, project_value_58)) > 0)) {
/* 759 */       project_project_isNull_48_0 = false;
/* 760 */       project_value_48 = project_value_58;
/* 761 */     }
/* 762 */
/* 763 */     boolean project_isNull_67 = true;
/* 764 */     double project_value_67 = -1.0;
/* 765 */     boolean project_isNull_68 = true;
/* 766 */     double project_value_68 = -1.0;
/* 767 */
/* 768 */     if (!project_exprIsNull_1_0) {
/* 769 */       boolean project_isNull_70 = true;
/* 770 */       double project_value_70 = -1.0;
/* 771 */
/* 772 */       boolean project_isNull_72 = true;
/* 773 */       double project_value_72 = -1.0;
/* 774 */
/* 775 */       project_isNull_72 = false; // resultCode could change nullability.
/* 776 */
/* 777 */       int project_n_7 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[15] /* literal */).numElements());
/* 778 */       double project_acc_7 = 0.0;
/* 779 */       for (int project_i_7 = 0; project_i_7 < project_n_7 && !project_isNull_72; project_i_7++) {
/* 780 */         if (project_expr_0_0.isNullAt(project_i_7) || ((ArrayData) references[15] /* literal */).isNullAt(project_i_7)) {
/* 781 */           project_isNull_72 = true;
/* 782 */         } else {
/* 783 */           project_acc_7 += project_expr_0_0.getDouble(project_i_7) * ((ArrayData) references[15] /* literal */).getDouble(project_i_7);
/* 784 */         }
/* 785 */       }
/* 786 */       project_value_72 = project_acc_7;
/* 787 */       if (!project_isNull_72) {
/* 788 */         project_isNull_70 = false; // resultCode could change nullability.
/* 789 */
/* 790 */         project_value_70 = 2.0D * project_value_72;
/* 791 */
/* 792 */       }
/* 793 */       if (!project_isNull_70) {
/* 794 */         project_isNull_68 = false; // resultCode could change nullability.
/* 795 */
/* 796 */         project_value_68 = project_expr_1_0 - project_value_70;
/* 797 */
/* 798 */       }
/* 799 */
/* 800 */     }
/* 801 */     if (!project_isNull_68) {
/* 802 */       project_isNull_67 = false; // resultCode could change nullability.
/* 803 */
/* 804 */       project_value_67 = project_value_68 + 9.99999929429E11D;
/* 805 */
/* 806 */     }
/* 807 */
/* 808 */     if (!project_isNull_67 && (project_project_isNull_48_0 ||
/* 809 */         (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(project_value_48, project_value_67)) > 0)) {
/* 810 */       project_project_isNull_48_0 = false;
/* 811 */       project_value_48 = project_value_67;
/* 812 */     }
/* 813 */     project_subExprIsNull_1 = project_project_isNull_48_0;
/* 814 */     project_subExprValue_1 = project_value_48;
/* 815 */   }
/* 816 */
/* 817 */   private void project_subExpr_0(org.apache.spark.sql.catalyst.util.ArrayData project_expr_0_0, boolean project_exprIsNull_1_0, double project_expr_1_0) {
/* 818 */     boolean project_isNull_39 = true;
/* 819 */     double project_value_39 = -1.0;
/* 820 */     boolean project_isNull_40 = true;
/* 821 */     double project_value_40 = -1.0;
/* 822 */
/* 823 */     if (!project_exprIsNull_1_0) {
/* 824 */       boolean project_isNull_42 = true;
/* 825 */       double project_value_42 = -1.0;
/* 826 */
/* 827 */       boolean project_isNull_44 = true;
/* 828 */       double project_value_44 = -1.0;
/* 829 */
/* 830 */       project_isNull_44 = false; // resultCode could change nullability.
/* 831 */
/* 832 */       int project_n_4 = java.lang.Math.min(project_expr_0_0.numElements(), ((ArrayData) references[12] /* literal */).numElements());
/* 833 */       double project_acc_4 = 0.0;
/* 834 */       for (int project_i_4 = 0; project_i_4 < project_n_4 && !project_isNull_44; project_i_4++) {
/* 835 */         if (project_expr_0_0.isNullAt(project_i_4) || ((ArrayData) references[12] /* literal */).isNullAt(project_i_4)) {
/* 836 */           project_isNull_44 = true;
/* 837 */         } else {
/* 838 */           project_acc_4 += project_expr_0_0.getDouble(project_i_4) * ((ArrayData) references[12] /* literal */).getDouble(project_i_4);
/* 839 */         }
/* 840 */       }
/* 841 */       project_value_44 = project_acc_4;
/* 842 */       if (!project_isNull_44) {
/* 843 */         project_isNull_42 = false; // resultCode could change nullability.
/* 844 */
/* 845 */         project_value_42 = 2.0D * project_value_44;
/* 846 */
/* 847 */       }
/* 848 */       if (!project_isNull_42) {
/* 849 */         project_isNull_40 = false; // resultCode could change nullability.
/* 850 */
/* 851 */         project_value_40 = project_expr_1_0 - project_value_42;
/* 852 */
/* 853 */       }
/* 854 */
/* 855 */     }
/* 856 */     if (!project_isNull_40) {
/* 857 */       project_isNull_39 = false; // resultCode could change nullability.
/* 858 */
/* 859 */       project_value_39 = project_value_40 + 1.00000016346E12D;
/* 860 */
/* 861 */     }
/* 862 */     project_subExprIsNull_0 = project_isNull_39;
/* 863 */     project_subExprValue_0 = project_value_39;
/* 864 */   }
/* 865 */
/* 866 */   private void generate_doConsume_0(int generate_expr_0_0, boolean generate_exprIsNull_0_0, ArrayData generate_expr_1_0) throws java.io.IOException {
/* 867 */     int generate_numElements_1 = false ? 0 : generate_expr_1_0.numElements();
/* 868 */     for (int generate_index_1 = 0; generate_index_1 < generate_numElements_1; generate_index_1++) {
/* 869 */       ((org.apache.spark.sql.execution.metric.SQLMetric) references[19] /* numOutputRows */).add(1);
/* 870 */
/* 871 */       boolean generate_isNull_4 = generate_expr_1_0.isNullAt(generate_index_1);
/* 872 */       double generate_col_0 = generate_isNull_4 ? -1.0 : generate_expr_1_0.getDouble(generate_index_1);
/* 873 */
/* 874 */       hashAgg_doConsume_0(generate_expr_0_0, generate_exprIsNull_0_0, generate_index_1, generate_col_0, generate_isNull_4);
/* 875 */
/* 876 */     }
/* 877 */
/* 878 */   }
/* 879 */
/* 880 */ }
